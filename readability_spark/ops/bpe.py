"""Byte-Pair-Encoding tokenizer-vocabulary induction over the corpus.

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units", arXiv:1508.07909): starting from characters, repeatedly
(1) count adjacent symbol pairs over the word-frequency table (overlapping
occurrences included, weighted by word count — the reference
implementation's ``get_stats``), (2) merge the most frequent pair
everywhere it occurs, greedy leftmost non-overlapping per word.  The
learned merge list IS the tokenizer — this is the vocab-training pass a
pre-training pipeline runs between curation and packing.

Output: one row per merge round — (merge_round, pair, merged,
pair_count) — the merge table verbatim, deterministic under the
(count DESC, pair ASC) tiebreak.  If merges exhaust before ``rounds``
(no adjacent pairs remain), training stops there: the merge table simply
ends early, and encoding uses each word's pre-exhaustion segmentation —
the word table never collapses (Spark: loop break on the empty argmax;
oracle: a NOT EXISTS passthrough leg in each w{{r}} CTE — both pinned in
tests/test_bpe.py).

Cross-engine exactness rides one encoding trick: each word's symbol
sequence is kept as a string with TWO-space separators and two-space
ends (``"  a  b  c  "``).  Merging pair (A, B) is then a single
``replace(ws, ' A  B ', ' AB ')`` — the pattern consumes ONE space from
each flanking separator, so the invariant is restored in place and the
engine's native left-to-right non-overlapping scan implements exactly
the classic BPE merge order: ``[a,b,a,b] → [ab, ab]`` (boundary spaces
are not shared between adjacent matches) while ``[a,a,a] → [aa, a]``
(symbol-overlapping occurrences are not double-merged).  Verified
identical in Spark, DuckDB, and Python str.replace; pinned in
tests/test_bpe.py.  Symbols never contain spaces (words are whitespace
tokens), so the pattern cannot match across symbol boundaries.

Scale notes (100 TB):
- All rounds run over the WORD-FREQUENCY table (distinct words +
  counts), not the corpus — the one corpus-sized pass is the initial
  token groupBy.  This is the classic BPE formulation; the vocab table
  is bounded (tens of millions of rows) regardless of corpus size.
- Per round: one in-row pair explode + pair-keyed aggregation (map-side
  partials; exchange bounded by distinct pairs), a TakeOrderedAndProject
  top-1 (every partition forwards one row — the dsir_select lesson), a
  1-row broadcast crossJoin, and an in-row replace.  The word table is
  localCheckpointed per round so round r+1's plan is flat (the
  link_pagerank move — no 2^r lineage blow-up).
- Nothing in any round serializes with executor count except the 1-row
  argmax, which is the algorithm's sequential dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import SQL_TOKENS, table, tokens_col

BPE_ROUNDS = 8


def _train(spark: SparkSession, sf_dir: str, rounds: int):
    """Run the BPE training loop; returns (merge-row DataFrames, final
    word table (tok, wc, ws) after all merges)."""
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("wc"))
        # two-space-separated character string: "  h  i  "
        .select("tok", "wc", F.expr(
            "concat('  ', array_join(transform(sequence(1, length(tok)), "
            "i -> substr(tok, i, 1)), '  '), '  ')").alias("ws"))
        # r8: lazy checkpoints throughout the training loop — each
        # round's argmax collect() is an action anyway, so it
        # materializes (and truncates) the pending checkpoint inside the
        # same job instead of paying a separate barrier job per round
        # (same-window A/B: 1.84 -> 1.66 s, identical merge table)
        .localCheckpoint(eager=False))
    merges = []
    for r in range(1, rounds + 1):
        # (loop exits early below when the pair table is exhausted; the
        # word table then keeps its pre-exhaustion segmentation instead of
        # collapsing to empty through a crossJoin with an empty argmax)
        # overlapping adjacent pairs, get_stats-style; two-space joined so
        # the pair key cannot collide across symbols.  r8: array_remove +
        # zip-explode instead of the interpreted filter/transform lambdas
        # (identical strings; see common.ngram_zip_parts)
        pairs = (
            words
            .withColumn("syms",
                        F.expr("array_remove(split(ws, '  '), '')"))
            .select("wc", F.explode(F.expr(
                "arrays_zip(syms, slice(syms, 2, size(syms)))")).alias("z"))
            .filter(F.expr("z.`1` IS NOT NULL"))
            .select("wc",
                    F.expr("concat_ws('  ', z.syms, z.`1`)").alias("pr"))
            .groupBy("pr").agg(F.sum("wc").cast("long").alias("c")))
        # r8: the argmax IS the algorithm's sequential driver dependency —
        # the old form materialized it via localCheckpoint + take(1),
        # which already moved this one row to the driver across two jobs;
        # a direct 1-row collect moves the same row in one job, and the
        # next round's merge pair becomes a broadcast local relation
        # (zero-job build) instead of a checkpointed lineage.
        row = (pairs.orderBy(F.desc("c"), F.asc("pr")).limit(1)
               .select(F.expr("split_part(pr, '  ', 1)").alias("a"),
                       F.expr("split_part(pr, '  ', 2)").alias("b"),
                       F.col("c").alias("pair_count"))
               .collect())
        if not row:
            # merges exhausted before `rounds` (every word is a single
            # symbol): stop — words stays at its final segmentation.
            break
        a, b, cnt = row[0]["a"], row[0]["b"], row[0]["pair_count"]
        merges.append((r, a, b, int(cnt)))
        # the merge pair rides into round r+1 as plain string LITERALS
        # (F.lit — no SQL-text injection path), replacing the former
        # 1-row broadcast crossJoin: one fewer plan leg per round, and a
        # literal search pattern lets codegen do the replace directly
        words = (
            words.select("tok", "wc", F.replace(
                F.col("ws"), F.lit(f" {a}  {b} "),
                F.lit(f" {a}{b} ")).alias("ws"))
            .localCheckpoint(eager=False))
    return merges, words


def bpe_merges(spark: SparkSession, sf_dir: str,
               rounds: int = BPE_ROUNDS) -> DataFrame:
    """Learn ``rounds`` BPE merges over the documents word-frequency
    table; returns the merge table (merge_round, pair, merged,
    pair_count) in round order."""
    merges, _ = _train(spark, sf_dir, rounds)
    # merge rows were collected one-by-one as each round's argmax (the
    # sequential dependency); the output table is rebuilt from them
    return (
        spark.createDataFrame(
            merges,
            "merge_round bigint, a string, b string, pair_count bigint")
        .select(
            "merge_round",
            F.expr("concat(a, ' ', b)").alias("pair"),
            F.expr("concat(a, b)").alias("merged"),
            "pair_count")
        .orderBy("merge_round")
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the learned merges: per document, word
    count, subword-token count, character count, and the chars-per-
    subword compression the vocabulary buys.

    The word table after training carries each distinct word's final
    symbol segmentation, so encoding is a lookup, not a re-merge: the
    corpus-sized leg explodes tokens and joins the (tok → n_subwords)
    table in place (broadcast at gate scale — the vocab table is the
    small side by construction; AQE swaps to shuffle-hash if a real
    vocabulary outgrows it), then aggregates per doc — the lm_score
    shape: no corpus-sized exchange ever carries token text.
    """
    _, words = _train(spark, sf_dir, BPE_ROUNDS)
    vocab = words.select(
        "tok",
        F.expr("size(array_remove(split(ws, '  '), ''))")
        .cast("long").alias("n_sub"),
        F.length("tok").cast("long").alias("n_chr"))
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .join(vocab, "tok")    # inner: vocab covers every corpus token
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_words"),
             F.sum("n_sub").cast("long").alias("n_subwords"),
             F.sum("n_chr").cast("long").alias("n_chars"))
        .select(
            "doc_id", "n_words", "n_subwords", "n_chars",
            F.round(F.col("n_chars") * 1.0 / F.col("n_subwords"), 6)
            .alias("chars_per_subword"))
        .orderBy("doc_id")
    )


def _bpe_train_ctes(rounds: int = BPE_ROUNDS) -> str:
    parts = [f"""
WITH w0 AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS wc,
         concat('  ', array_to_string(list_transform(
             generate_series(1, len(tok)), i -> substr(tok, i, 1)),
             '  '), '  ') AS ws
  FROM (SELECT unnest({SQL_TOKENS.format(col='text')}) AS tok
        FROM documents)
  GROUP BY tok
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", p{r} AS (
  SELECT pr, CAST(sum(wc) AS BIGINT) AS c
  FROM (
    SELECT wc, concat(syms[i], '  ', syms[i + 1]) AS pr
    FROM (
      SELECT wc,
             list_filter(string_split(ws, '  '), x -> x <> '') AS syms
      FROM w{r - 1}
    ), LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    WHERE len(syms) >= 2
  )
  GROUP BY pr
), b{r} AS MATERIALIZED (
  SELECT CAST({r} AS BIGINT) AS merge_round,
         split_part(pr, '  ', 1) AS a,
         split_part(pr, '  ', 2) AS b,
         c AS pair_count
  FROM p{r} ORDER BY c DESC, pr ASC LIMIT 1
), w{r} AS MATERIALIZED (
  -- exhaustion passthrough (mirrors the Spark loop break): when b{r} is
  -- empty the cross-join leg yields nothing and the words keep their
  -- pre-exhaustion segmentation instead of collapsing to an empty table
  SELECT tok, wc, replace(ws, concat(' ', b{r}.a, '  ', b{r}.b, ' '),
                          concat(' ', b{r}.a, b{r}.b, ' ')) AS ws
  FROM w{r - 1} CROSS JOIN b{r}
  UNION ALL
  SELECT tok, wc, ws FROM w{r - 1}
  WHERE NOT EXISTS (SELECT 1 FROM b{r})
)""")
    return "".join(parts)


def _bpe_sql(rounds: int = BPE_ROUNDS) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT merge_round, concat(a, ' ', b) AS pair,"
        f" concat(a, b) AS merged, pair_count FROM b{r}"
        for r in range(1, rounds + 1))
    return _bpe_train_ctes(rounds) + f"\n{union}\nORDER BY merge_round\n"


def _bpe_encode_sql() -> str:
    return _bpe_train_ctes(BPE_ROUNDS) + f""", vocab AS (
  SELECT tok,
         CAST(len(list_filter(string_split(ws, '  '), x -> x <> ''))
              AS BIGINT) AS n_sub,
         CAST(len(tok) AS BIGINT) AS n_chr
  FROM w{BPE_ROUNDS}
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         CAST(sum(n_chr) AS BIGINT) AS n_chars
  FROM (SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS tok
        FROM documents) t
  JOIN vocab USING (tok)
  GROUP BY doc_id
)
SELECT doc_id, n_words, n_subwords, n_chars,
       round(n_chars * 1.0 / n_subwords, 6) AS chars_per_subword
FROM agg
ORDER BY doc_id
"""


BPE_MERGES_SQL = _bpe_sql()
BPE_ENCODE_SQL = _bpe_encode_sql()
