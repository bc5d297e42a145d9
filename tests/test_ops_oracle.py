"""Cross-engine parity traps check_oracles.py can't catch from fixtures
alone: tokenization on characters absent from the test corpus, and
driver-canonicalizability of every gate-facing output.
"""

from __future__ import annotations

import duckdb
import pytest

from readability_spark.ops.common import SQL_TOKENS, tokens_col

# strings the parquet corpus doesn't contain: vertical tab (Java \s includes
# it, RE2 \s doesn't — the whole reason the class is spelled out), form feed,
# CRLF runs, leading/trailing mixes
TRICKY = [
    "a\x0bb c",            # vertical tab
    "a\fb\tc",             # form feed + tab
    "x\r\n\r\ny  z",       # CRLF runs
    "\x0b lead\x0b\x0btrail \x0b",
    "  plain  words  ",
    "one",
    "\x0b\x0b",            # only separators → zero tokens
]


@pytest.mark.parametrize("s", TRICKY)
def test_tokenization_parity_spark_vs_duckdb(spark, s):
    srow = (spark.createDataFrame([(s,)], "text string")
            .select(tokens_col("text").alias("toks")).first())
    con = duckdb.connect()
    drow = con.execute(
        f"SELECT {SQL_TOKENS.format(col='?')} AS toks", [s]).fetchone()
    assert list(srow[0]) == list(drow[0]), (
        f"tokenization diverged on {s!r}: spark={srow[0]} duckdb={drow[0]}")


@pytest.mark.parametrize("s", TRICKY)
def test_bpe_regex_parity_spark_vs_duckdb(spark, s):
    from readability_spark.ops.textstats import _BPE_RE, _BPE_RE_SQL
    srow = (spark.createDataFrame([(s,)], "text string")
            .selectExpr(f"size(regexp_extract_all(lower(text), "
                        f"'{_BPE_RE}', 0)) AS n").first())
    con = duckdb.connect()
    drow = con.execute(
        f"SELECT len(regexp_extract_all(lower(?), '{_BPE_RE_SQL}', 0))",
        [s]).fetchone()
    assert srow["n"] == drow[0], f"BPE tokenization diverged on {s!r}"


def test_shingle_expr_empty_for_short_docs(spark):
    from _reference_forms import _shingle_expr
    rows = (spark.createDataFrame(
        [(["a"],), (["a", "b"],), (["a", "b", "c"],), ([],)],
        "toks array<string>")
        .selectExpr(f"{_shingle_expr()} AS sh").collect())
    assert [list(r["sh"]) for r in rows] == [[], [], ["a b c"], []]


def test_media_features_gate_canonicalizable(spark):
    """The gate projection must survive the driver's pandas sort_values —
    no array cells — and be deterministic."""
    from readability_spark.ops.multimodal import media_features
    pdf = media_features(spark, "/root/testdata/sf0.001").toPandas()
    assert len(pdf) > 0
    # sort_values over all columns is exactly what crashed the r01 gate
    pdf2 = pdf[sorted(pdf.columns)].sort_values(by=sorted(pdf.columns))
    assert list(pdf2.columns) == ["feature_csv", "kind", "media_id",
                                  "n_bytes"]
    one = pdf.iloc[0]
    assert isinstance(one["feature_csv"], str)
    assert len(one["feature_csv"].split(",")) == 8


def test_media_features_null_text_parity(spark, tmp_path):
    """NULL text must agree between engines STRUCTURALLY: both sides
    coalesce to '' before md5/strlen.  The shipped testdata has no NULL
    text, so this builds a corpus that does."""
    from readability_spark.ops.multimodal import (MEDIA_FEATURES_SQL,
                                                  media_features)
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, None), (1, "hello"), (2, ""), (3, None)],
        "doc_id bigint, text string",
    ).write.parquet(f"{d}/documents.parquet")
    got = {r["media_id"]: r for r in media_features(spark, d).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    want = con.execute(MEDIA_FEATURES_SQL).fetchall()
    assert len(got) == len(want) == 4
    for media_id, kind, n_bytes, feature_csv in want:
        g = got[media_id]
        assert g["kind"] == kind
        assert g["n_bytes"] == n_bytes
        assert g["feature_csv"] == feature_csv
    # NULL and '' normalize to the SAME feature (md5 of empty payload)
    assert got[0]["feature_csv"] == got[2]["feature_csv"]
    assert got[0]["n_bytes"] == 0


def test_embedding_dedup_threshold_param_tracks_oracle(spark):
    """A non-default threshold must flow into BOTH the operator and its
    generated oracle (the module-level pair only covers the default)."""
    from readability_spark.ops.similarity import (
        _embedding_dedup_sql, embedding_near_dup_df)

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet") \
        .select("vec_id", "embedding")
    got = embedding_near_dup_df(emb, threshold=0.3) \
        .select("vec_a", "vec_b", "cos", "is_dup").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet')")
    exp = con.execute(_embedding_dedup_sql(threshold=0.3)).df()
    assert len(got) == len(exp)
    assert bool(got["is_dup"].any())          # 0.3 flags strictly more than 0.4
    assert got["is_dup"].sum() > 0
    got_s = got.sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    exp_s = exp.sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    assert (got_s["is_dup"].astype(bool) == exp_s["is_dup"].astype(bool)).all()
    assert (got_s["cos"] - exp_s["cos"]).abs().max() < 1e-9
