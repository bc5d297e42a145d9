"""Whale-doc (byte-aware) batching stress tests.

Arrow input batches of the scalar pandas UDF are capped by bytes as well
as rows: build_session sets spark.sql.execution.arrow.maxBytesPerBatch to
PYTHON_SOCKET_BUFFER beside the 64-row maxRecordsPerBatch, so 64 docs at
the 8 MB truncation cap can no longer stage a ~512 MB batch in a python
worker (SURVEY §7.4 risk #4).  ``run_pipeline(whale_safe_bytes=...)`` is
a kept keyword that changes nothing.  These tests pin:

- result equality: whale, giant and NULL rows == the plain function
  (including the >MAX_HTML_BYTES truncation row);
- the byte cap: every batch a UDF or mapInPandas sees holds less than the
  cap plus its largest row, on a corpus dense with whales;
- plan shape: one scan of the source and no applyInPandas tier on the
  salted path, the scalar Arrow UDF on the salted and the dedup path;
- the end-to-end pipeline (write + metrics + resume) accepts the keyword.
"""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from readability_core import extract as extract_plain
from readability_core.extract import MAX_HTML_BYTES
from readability_spark.pipeline import (
    PYTHON_SOCKET_BUFFER, run_extraction, run_pipeline)

WHALE = ("<html><body><article>" +
         "<p>whale paragraph with enough text to score " + "x" * 4096 +
         "</p>" * 120 + "</article></body></html>")          # ~500 KB
LIGHT = ("<html><body><article><p>light doc body with some real text to "
         "extract</p></article></body></html>")
GIANT = "<p>" + "y" * (MAX_HTML_BYTES + 1024) + "</p>"        # > 8 MB cap


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [("conv%02d" % (i % 11), i, "assistant",
             WHALE if i % 37 == 0 else LIGHT) for i in range(300)]
    rows.append(("convg", 7777, "assistant", GIANT))
    rows.append(("convn", 8888, "user", None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def _by_key(rows):
    return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in rows}


def test_two_tier_equals_single_tier_and_plain(spark, corpus):
    two = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert len(two) == 302

    # spot-check whale + giant + null rows against the pure function
    for key, html in ((("conv00", 0), WHALE), (("convg", 7777), GIANT),
                      (("convn", 8888), None)):
        rec = extract_plain(html, build_aria=False)
        got = two[key]
        assert got["extracted_text"] == rec["extracted_text"]
        assert got["extracted_md"] == rec["extracted_md"]
        assert got["error"] == rec["error"]
    assert two[("convg", 7777)]["error"] == "truncated:max_html_bytes"


def test_pipeline_whale_safe_end_to_end(spark, corpus, tmp_path):
    inp = str(tmp_path / "input")
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    corpus.write.parquet(inp)
    r = run_pipeline(spark, inp, out, metrics, num_buckets=8,
                     whale_safe_bytes=100_000)
    assert r["rows"] == 302
    written = spark.read.parquet(out)
    assert written.count() == 302
    m = spark.read.parquet(metrics)
    assert m.filter("status = 'ok'").count() == m.count()
    # warnings surfaced for the truncated giant, not counted as errors
    assert m.agg({"n_warnings": "sum"}).first()[0] >= 1
    assert m.agg({"n_errors": "sum"}).first()[0] == 0
    # resume: everything ok → nothing new
    r2 = run_pipeline(spark, inp, out, metrics, num_buckets=8,
                      whale_safe_bytes=100_000)
    assert r2["rows_new"] == 0


def test_dedup_payloads_equals_default(spark, corpus):
    """Content-addressed extraction (UDF once per distinct payload, join
    back) must be row-for-row identical to the direct path — purity makes
    it so, including the NULL/'' key collision the docstring calls out."""
    ded = _by_key(run_extraction(corpus, num_buckets=8,
                                 dedup_payloads=True).collect())
    base = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert set(ded) == set(base)
    assert sum(1 for k in ded if ded[k] != base[k]) == 0
    # the plan must evaluate the UDF over the DISTINCT table and join back
    plan = run_extraction(corpus, num_buckets=8, dedup_payloads=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Join" in plan or "join" in plan


def test_dedup_payloads_composes_with_whale_tiering(spark, corpus):
    """Duplicate-heavy AND whale-bearing corpora co-occur in real crawl
    data: dedup_payloads=True on a whale corpus must (a) match the
    plain path row-for-row — the corpus repeats the same whale payload
    ~9×, which the distinct table collapses to one row — and (b) keep the
    dedup plan's shuffle count."""
    out = run_extraction(corpus, num_buckets=8, dedup_payloads=True)
    composed = _by_key(out.collect())
    base = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert set(composed) == set(base)
    assert sum(1 for k in composed if composed[k] != base[k]) == 0

    # post-execution (AQE-final) plan: the collect above materialized it
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the distinct payloads take the scalar Arrow path; records join back
    assert "ArrowEvalPython" in plan
    assert "Join" in plan or "join" in plan
    # scale shape: the whole composed job materializes at most 3 distinct
    # shuffles: dedup, repartition, and the record side of the join.  A
    # 4th distinct stage would mean the distinct lineage was paid twice.
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(stages) <= 3, sorted(stages)


def test_session_caps_every_arrow_batch_by_bytes(spark):
    """A whale every 10th row (1.5 MB among 1 KiB rows): with only the
    64-row cap a batch holds ~6 whales (~10 MB); the session's byte cap
    closes a batch once it reaches PYTHON_SOCKET_BUFFER, so no batch
    reaches the cap plus its largest row — for the scalar pandas UDF and
    for mapInPandas alike."""
    whale = 1_500_000
    df = spark.range(0, 400, 1, 2).select(
        F.when(F.col("id") % 10 == 0, F.repeat(F.lit("w"), whale))
        .otherwise(F.repeat(F.lit("x"), 1024)).alias("text"))
    bound = PYTHON_SOCKET_BUFFER + whale

    # defined here so they pickle by value into the python workers
    def text_bytes(s):
        return sum(len(t.encode("utf-8")) for t in s if t is not None)

    def batch_bytes(s):
        return pd.Series([text_bytes(s)] * len(s), dtype="int64")

    def per_batch(it):
        for pdf in it:
            yield pd.DataFrame({"b": [text_bytes(pdf["text"])]})

    seen = df.select(pandas_udf(batch_bytes, "long")("text").alias("b")) \
        .agg(F.max("b"), F.count("*")).first()
    assert seen[1] == 400
    assert 0 < seen[0] < bound, seen
    sizes = [r["b"] for r in df.mapInPandas(per_batch, "b long").collect()]
    assert max(sizes) < bound, sorted(sizes)


@pytest.fixture(scope="module")
def corpus_path(corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("whale_corpus") / "input")
    corpus.write.parquet(path)
    return path


def _plan_shape(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"(#|plan_id=)\d+L?", r"\1", plan)


@pytest.mark.parametrize("dedup", [False, True], ids=["salted", "dedup"])
def test_whale_safe_bytes_leaves_plan_unchanged(spark, corpus_path, dedup):
    """Whales take the one scalar Arrow path: no applyInPandas tier, and
    on the salted path one scan of the source (the removed whale tier
    scanned it twice)."""
    src = spark.read.parquet(corpus_path)
    plan = _plan_shape(run_extraction(
        src, num_buckets=8, dedup_payloads=dedup))
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" in plan
    if not dedup:
        assert plan.count("FileScan parquet") == 1, plan
