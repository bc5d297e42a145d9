"""Extraction pipeline: salting, repartition, lineage metrics, resume.

Implements the north rule's scale requirements explicitly:

- **Skew**: conversation lengths are Zipf-ish — a few conv_ids carry 10^3+
  turns.  Extraction is per-turn (embarrassingly parallel), so we salt on
  ``hash(conv_id, turn_idx)`` and repartition BEFORE the extraction stage;
  ordering is restored by (conv_id, turn_idx) only where a consumer needs it.
- **Lineage / checkpoint-resume**: every output row carries its bucket_id;
  a per-bucket metrics table (row counts, article counts, score/yield sums,
  conv_id range, status) is derived from the output and written next to it.
  ``resume_filter`` anti-joins the input against buckets already marked ok,
  so a re-run reprocesses only failed/missing buckets.
- **AQE** handles post-shuffle coalescing and runtime skew splits on top.

At 100 TB the same code holds: bucket count scales with cluster cores
(4 buckets/core keeps task size uniform), the UDF is Arrow-batched with
per-batch record-count and byte caps, and by default the only shuffle in
the job is the one explicit salt repartition (the metrics groupBy
aggregates partially map-side on a small column set).  With
``dedup_payloads=True`` there are two hash exchanges instead, both
carrying the distinct text: the ``dropDuplicates`` one into
``spark.sql.shuffle.partitions`` and the ``repartition(num_buckets,
_tkey)`` one; the extracted records then reach every turn through a
broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from readability_core.extract import MAX_HTML_BYTES

from .schema import EXTRACT_SCHEMA
from .udfs import make_extract_udf

# Arrow rows/batch. Small batches matter enormously for UDF throughput:
# with ~30KB HTML payloads, the default 10000-row batches serialize the
# JVM→Python pipe (measured 36s vs 2.3s for a 200MB pass-through at
# batch=64 on local[32]).  64 rows ≈ 2MB keeps the feed/compute pipeline
# full; paired with a 2MB python-worker socket buffer (spark.buffer.size,
# default 64KB!) this took the flagship job from 432 to ~1250 turns/s at
# local[32] — the buffer must hold ~one batch so the JVM can stage the
# next batch while the worker computes the current one.
# Re-tuned after the r5 core speedup (two interleaved sessions, recorded
# in BENCH/arrow_ab_history.jsonl): 64 still wins —
# rotated-order medians vs 64 were 0.83 (batch=128) and 0.69 (batch=256),
# and the quietest round read 10.4s / 11.5s / 13.0s for 64/128/256.  A
# fixed variant order fakes large gains for whichever slot dodges the
# host's throttle cycle; rotate the order when re-measuring.
# Both measurements predate the removal of the ~0.25 s per-task zip-archive
# rescan in workers (udfs.py), which cut the fixed cost of every task, so
# the tuning may no longer hold.  A re-tune is decided by perfbench
# parent/change pairs (perfbench/README.md) on both benchmark workloads.
# Both caps apply to every scalar pandas-UDF and mapInPandas input batch: a
# batch closes at 64 rows OR once it holds PYTHON_SOCKET_BUFFER bytes
# (spark.sql.execution.arrow.maxBytesPerBatch, default 64 MiB), so a run of
# whale payloads stages at most the cap plus one row in a python worker,
# while the 64-row cap still decides the flagship (64 × ~4 KB ≪ 2 MiB).
DEFAULT_ARROW_BATCH = 64
PYTHON_SOCKET_BUFFER = 2 * 1024 * 1024

# parquet.dictionary.page.size of every parquet write in the session: the
# output and metrics tables and the stream sink.  At parquet's 1 MiB
# default a column chunk drops to PLAIN as soon as its dictionary holds one
# large extracted_text/extracted_md, and from then on every copy of a
# repeated record (dedup_payloads joins one record back to each duplicate
# turn) is written in full.  Twice the input cap keeps a capped page's text
# in the dictionary beside other values, so each column chunk stores a
# repeated record once.  The cost is writer memory: an open parquet writer
# can buffer up to this many bytes of dictionary per string column.
PARQUET_DICT_PAGE_BYTES = 2 * MAX_HTML_BYTES


def build_session(app_name: str = "readability-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  driver_memory: str | None = None) -> SparkSession:
    """Session with the configs the pipeline relies on (AQE, Arrow and the
    parquet dictionary page, PARQUET_DICT_PAGE_BYTES).

    In local mode the driver JVM IS the cluster — the 1g default heap GC-
    thrashes under 32 concurrent tasks, so size it like an executor.  On a
    real cluster these settings ride spark-submit instead.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
        if driver_memory is None and master.startswith("local"):
            driver_memory = "12g"
        # G1 on a large heap GC-thrashed the Arrow UDF feed (measured 765s
        # of GC inside a 120s stage at local[32]); ParallelGC with a modest
        # heap was consistently ~2x faster for this pipeline shape
        b = b.config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(PYTHON_SOCKET_BUFFER))
        .config("spark.buffer.size", str(PYTHON_SOCKET_BUFFER))
        .config("spark.hadoop.parquet.dictionary.page.size",
                str(PARQUET_DICT_PAGE_BYTES))
        # r8: InferFiltersFromGenerate clones each explode()'s child into
        # a pushed-down `size(child) > 0 AND isnotnull(child)` predicate;
        # when the child is a tokenize + n-gram build, every corpus row
        # pays that construction TWICE (once in the cloned Filter, once in
        # the real Project) for a predicate explode() enforces anyway
        # (empty arrays emit no rows, and none of these derived predicates
        # can reach parquet).  Result-identical; removes the duplicated
        # subtree the guide's plan-audit checklist flags.  Scale-safe: the
        # exclusion matters MORE at 100 TB (the cloned subtree is per-row
        # work), and is independent of core count.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def n_buckets_for(spark: SparkSession) -> int:
    """Salt-bucket count: ~4× parallelism keeps tasks uniform under skew.

    The 4 was chosen while every task still paid ~0.25 s of worker set-up
    (the zip-archive rescan udfs.py removes); with cheaper tasks a
    different multiple may win, which only a measured A/B should decide."""
    return max(1, spark.sparkContext.defaultParallelism * 4)


def salt_col(num_buckets: int) -> Column:
    """bucket_id = pmod(xxhash64(conv_id, turn_idx), N) as int.

    The one definition of the salt: batch, dedup, resume and streaming
    must agree on it, because the lineage table records buckets
    by this id and a resume anti-joins on it.
    """
    return F.pmod(F.xxhash64("conv_id", "turn_idx"),
                  F.lit(num_buckets)).cast("int")


def salt_and_partition(df: DataFrame, num_buckets: int) -> DataFrame:
    """Add bucket_id = salt_col(N) and repartition on it.

    Salting on (conv_id, turn_idx) — not conv_id alone — is what breaks the
    long-conversation skew the north rule calls out; it is safe because
    extraction is stateless per turn.
    """
    df = df.withColumn("bucket_id", salt_col(num_buckets))
    return df.repartition(num_buckets, "bucket_id")


def record_cols(rec: str, valid: Column) -> list[Column]:
    """The EXTRACT_SCHEMA fields of struct column ``rec``, in schema order.

    ``valid`` is ``F.is_valid_utf8`` of the turn's raw text.  The UDF reads
    ``F.make_valid_utf8(text)``, because PySpark's Arrow → pandas step
    raises on invalid UTF-8 before any per-row fallback runs, failing the
    whole job for one turn; each invalid byte sequence becomes U+FFFD.  A
    repaired turn gets the non-fatal marker ``invalid_utf8:replaced`` in
    ``error`` unless the core already set a marker there."""
    marked = F.coalesce(F.col(f"{rec}.error"),
                        F.when(~valid, F.lit("invalid_utf8:replaced")))
    return [marked.alias(f) if f == "error" else F.col(f"{rec}.{f}")
            for f in EXTRACT_SCHEMA.fieldNames()]


def run_extraction(df: DataFrame, num_buckets: int | None = None,
                   char_threshold: int = 500,
                   dedup_payloads: bool = False) -> DataFrame:
    """transcripts → per-turn extraction results (flat columns).

    Physical plan: Scan → Project(conv_id, turn_idx, role, text) →
    Exchange(hash bucket_id) → ArrowEvalPython(extract_udf) → Project.
    One shuffle total; the scan only reads the 4 needed columns.

    Whale payloads need no plan of their own: the session (build_session)
    caps every Arrow input batch of the UDF at PYTHON_SOCKET_BUFFER bytes
    as well as 64 rows, so a run of 8 MB-cap documents stages at most the
    cap plus one document in a python worker, on this path, the dedup path
    and the streaming one alike.

    ``dedup_payloads``: extraction is a pure function of the text, and
    real transcript corpora are duplicate-heavy (boilerplate pages,
    re-fetched URLs, repeated tool outputs), so run the UDF once per
    DISTINCT payload and join the records back — the standard relational
    form of content-addressed extraction caching.  Result-identical by
    purity (NULL and '' text intentionally share a key: parse_guarded
    maps NULL to '').  The distinct key is sha256 of the payload:
    extraction caching silently merges any two colliding payloads, and
    md5 collisions are constructible by an adversarial corpus, so the
    key must be collision-resistant (the md5-only determinism rule
    covers gate-facing oracled queries, not internal keys).  Cost
    model: replaces the salt exchange with two exchanges keyed on the
    payload hash (the dropDuplicates shuffle and the repartition, see the
    module docstring) plus a join of the corpus against the
    extracted-distinct table — pays off when the duplicate factor beats
    the extra shuffle, which at 10^12 turns of crawl-derived transcripts
    it overwhelmingly does.  The salt's skew job is done by
    hash-of-payload partitioning here; AQE splits any hot key.  Opt-in
    because a genuinely all-unique corpus pays ~2× shuffle for nothing.
    Repeated whales collapse to one distinct row each before the UDF, and
    the session's parquet writer (build_session, PARQUET_DICT_PAGE_BYTES)
    stores their copies once per column chunk, as dictionary entries.

    Each turn's text reaches the UDF through ``F.make_valid_utf8``, and a
    turn whose bytes were repaired carries ``invalid_utf8:replaced`` in
    ``error`` (record_cols); on the dedup path the marker is computed on
    the turn side, so each turn carries its own.
    """
    if num_buckets is None:
        num_buckets = n_buckets_for(df.sparkSession)
    udf = make_extract_udf(char_threshold)
    cols = [c for c in ("conv_id", "turn_idx", "role") if c in df.columns]
    if dedup_payloads:
        keyed = df.select(*cols, "text").withColumn(
            "_tkey", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
        extracted = (keyed.select("_tkey", "text")
                     .dropDuplicates(["_tkey"])
                     .repartition(num_buckets, "_tkey")
                     .select("_tkey",
                             udf(F.make_valid_utf8("text")).alias("x")))
        return (
            keyed.withColumn("bucket_id", salt_col(num_buckets))
            .withColumn("_valid", F.is_valid_utf8("text"))
            .join(extracted, "_tkey")
            .select(*cols, "bucket_id", *record_cols("x", F.col("_valid"))))
    salted = salt_and_partition(df.select(*cols, "text"), num_buckets)
    return salted.withColumn("x", udf(F.make_valid_utf8("text"))).select(
        *cols, "bucket_id", *record_cols("x", F.is_valid_utf8("text")))


def derive_metrics(results: DataFrame, attempt: int = 1,
                   num_buckets: int | None = None) -> DataFrame:
    """Per-bucket lineage/metrics rows (aggregates only small columns —
    partial aggregation happens map-side before the tiny final shuffle).

    A bucket whose every row FATALLY errored is marked ``failed`` so a
    resume run actually reprocesses it (status='ok' would pin a poisoned
    shard as done forever).  Only ``exception:``-prefixed errors are fatal:
    the error column also carries non-fatal warning markers
    (``truncated:max_html_bytes``, ``depth_capped:max_dom_depth``,
    extract.py:125-133) on rows that extracted fine — counting those as
    errors would mark an all-truncated bucket permanently failed, so every
    resume would reprocess it and append another full copy of its output,
    never converging.  Warnings are surfaced separately as ``n_warnings``.
    ``n_buckets`` records the salt modulus the run used — a resume MUST
    reuse it, or the anti-join compares incompatible bucket ids (see
    run_pipeline)."""
    fatal = F.col("error").startswith("exception:")
    return (
        results.groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("page_type") == "article", 1).otherwise(0))
            .alias("n_articles"),
            F.sum(F.when(fatal, 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("error").isNotNull() & ~fatal, 1)
                  .otherwise(0)).alias("n_warnings"),
            F.sum("node_count").alias("sum_node_count"),
            F.sum("char_yield").alias("sum_char_yield"),
            F.avg("top_score").alias("avg_top_score"),
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
        )
        .withColumn(
            "status",
            F.when(F.col("n_errors") < F.col("n_turns"), F.lit("ok"))
            .otherwise(F.lit("failed")))
        .withColumn("attempt", F.lit(attempt))
        .withColumn("n_buckets", F.lit(num_buckets).cast("int"))
    )


def resume_filter(df: DataFrame, metrics: DataFrame,
                  num_buckets: int) -> DataFrame:
    """Keep only turns whose bucket has no status='ok' lineage row.

    The metrics side is tiny (one row per bucket) → broadcast anti-join;
    no shuffle of the big side beyond the salt repartition it needs anyway.
    """
    done = metrics.filter(F.col("status") == "ok").select("bucket_id").distinct()
    salted = df.withColumn("bucket_id", salt_col(num_buckets))
    return salted.join(F.broadcast(done), "bucket_id", "left_anti")


def _is_path_missing(e: Exception) -> bool:
    """True iff a read failed because the table doesn't exist OR holds no
    committed data (fresh run), as opposed to a corrupt table or a
    transient FS error — only the former may be swallowed by resume logic.

    UNABLE_TO_INFER_SCHEMA counts as missing: a run killed between
    directory creation and task commit leaves the path with only a
    ``_temporary`` subdir and zero parquet footers — the standard crash
    artifact resume exists to recover from.  No committed files means no
    recorded attempts, so "fresh" is semantically exact.  A table whose
    committed files are unreadable fails footer PARSING instead (not an
    AnalysisException) and still propagates."""
    from pyspark.errors import AnalysisException

    if not isinstance(e, AnalysisException):
        return False
    try:
        cls = e.getCondition()
    except Exception:
        cls = None
    if cls:
        # structured error condition available: trust it alone — a genuine
        # FS/corruption error whose MESSAGE merely embeds one of these
        # tokens (e.g. a wrapped cause chain) must not read as "fresh run"
        return cls in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    # no condition (older Spark / plain analysis error): message fallback,
    # including the legacy pre-error-class phrasing for portability
    msg = str(e)
    return ("PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Path does not exist" in msg)


def run_pipeline(spark: SparkSession, input_path: str, output_path: str,
                 metrics_path: str, num_buckets: int | None = None,
                 char_threshold: int = 500, fmt: str = "parquet",
                 resume: bool = True,
                 whale_safe_bytes: int | None = None,
                 dedup_payloads: bool = False) -> dict:
    """Full job: read → (resume anti-join) → salt → extract → write + metrics.

    ``fmt`` is "parquet" here; on an Iceberg-catalog cluster pass
    ``fmt='iceberg'`` and table identifiers instead of paths — the plan is
    identical, Iceberg adds hidden-partition pruning on bucket(conv_id).
    ``whale_safe_bytes`` is accepted and ignored: the session's Arrow
    byte cap already bounds whale batches (see run_extraction).
    """
    df = spark.read.format(fmt).load(input_path)
    if num_buckets is None:
        num_buckets = n_buckets_for(spark)

    attempt = 1
    if resume:
        # only a MISSING metrics table means "fresh run"; any other failure
        # (corrupt table, FS error) must propagate — swallowing it would
        # restart at attempt=1 and collide with existing attempt-1 rows
        try:
            metrics_prev = spark.read.format(fmt).load(metrics_path)
        except Exception as e:
            if not _is_path_missing(e):
                raise
            metrics_prev = None
        # a crash BETWEEN the output write and the metrics write leaves
        # the output table one attempt ahead of the metrics table; deriving
        # the next attempt from metrics alone would reuse that number, so
        # the reprocessed buckets' duplicate copies would both carry the
        # same attempt and max-attempt dedup would silently keep both.
        # Consult both tables.  The output read is a single-int-column
        # pruned scan (parquet reads only the 'attempt' pages), not a
        # re-scan of the payload.
        prev_attempt = 0
        try:
            prev_attempt = int(
                spark.read.format(fmt).load(output_path)
                .agg(F.max("attempt")).first()[0] or 0)
        except Exception as e:
            # missing output table == fresh run; anything else (corrupt
            # table, transient FS error) must propagate — resetting to 0
            # here while metrics are also unreadable would recreate the
            # colliding-attempt bug this read exists to prevent
            if not _is_path_missing(e):
                raise
        if metrics_prev is not None:
            prev = metrics_prev.agg(
                F.max("attempt").alias("a"),
                F.max("n_buckets").alias("b")).first()
            prev_attempt = max(prev_attempt, int(prev["a"] or 0))
            # the salt modulus is part of the lineage: resuming with a
            # different bucket count would anti-join incompatible bucket
            # ids and silently drop never-processed rows
            if prev["b"] is not None:
                num_buckets = int(prev["b"])
            df = resume_filter(df, metrics_prev, num_buckets) \
                .drop("bucket_id")
        attempt = prev_attempt + 1

    # One materialization of the extraction UDF: persist the results, write
    # them, then derive THIS attempt's metrics from the cache and append to
    # the metrics table.  Re-reading output_path here would re-scan
    # everything ever written on every attempt — at 100 TB that second full
    # scan dominates the job.  MEMORY_AND_DISK spills oversized partitions;
    # on clusters where caching the output is still too heavy, the
    # equivalent is reading back only the files this attempt created.
    from pyspark import StorageLevel

    # every output row carries its attempt: if a prior attempt crashed
    # between the output write and the metrics write, resume reprocesses
    # those buckets and output_path holds both copies — and because the
    # next attempt is computed from max(attempt) across BOTH tables (above),
    # the copies are guaranteed to carry distinct attempts, so keep-max-
    # attempt per (conv_id, turn_idx) dedups them deterministically
    results = run_extraction(df, num_buckets, char_threshold,
                             dedup_payloads=dedup_payloads) \
        .withColumn("attempt", F.lit(attempt))
    results.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # a non-resume run is a fresh job: BOTH tables start over (append
        # output + overwrite metrics would leave stale rows described by
        # nothing, all tagged attempt=1)
        mode = "append" if resume else "overwrite"
        results.write.format(fmt).mode(mode).save(output_path)
        metrics = derive_metrics(
            results.select("bucket_id", "page_type", "error", "node_count",
                           "char_yield", "top_score", "conv_id"),
            attempt, num_buckets)
        metrics.write.format(fmt).mode(mode).save(metrics_path)
    finally:
        results.unpersist()

    # counts come from the (tiny) metrics table, not another output scan
    totals = (spark.read.format(fmt).load(metrics_path)
              .agg(F.sum("n_turns").alias("t"),
                   F.sum(F.when(F.col("attempt") == attempt,
                                F.col("n_turns")).otherwise(0)).alias("n"))
              .first())
    return {"rows": int(totals["t"] or 0), "rows_new": int(totals["n"] or 0),
            "attempt": attempt, "num_buckets": num_buckets}
