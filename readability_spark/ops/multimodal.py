"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a typed metadata
struct; decode / feature-extract run as Arrow-batched ``mapInPandas`` so a
1000-executor cluster streams batches without ever materializing a payload
row-by-row in Python.

The decode step itself is STUBBED (no image/audio libs in this container):
``decode_stub`` produces a deterministic fake feature vector from the
payload bytes — the Spark-side plumbing (schema, partitioning, UDF
signature, batch shape) is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    # formatted from the float64 values BEFORE the Arrow float32 cast —
    # JVM format_string over the float column would format the rounded
    # float32 and drift in the 6th decimal
    T.StructField("feature_csv", T.StringType()),
])

_FEATURE_DIM = 8
_MEDIA_LIMIT = 64


def decode_stub(payload: bytes) -> list[float]:
    """Deterministic fake 'decode': md5-derived feature vector.  Keeps the
    full pipeline runnable and its outputs stable for tests."""
    if payload is None:
        payload = b""
    d = hashlib.md5(payload).digest()
    return [d[i] / 255.0 for i in range(_FEATURE_DIM)]


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents (payload = utf-8 bytes of the
    text — an opaque blob as far as the pipeline is concerned).

    Selection is a doc_id predicate, NOT .limit(): a global limit funnels
    through one partition and picks nondeterministic rows; the filter is
    deterministic and pushes down to the scan."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < _MEDIA_LIMIT))
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kinds.alias("kind"),
        # coalesce BEFORE encode: a NULL text must become an empty payload
        # on both engines, or the oracle's strlen(NULL)/md5(NULL) → NULL
        # diverges from the stub's None→b'' guard (equivalence must be
        # structural, not dependent on the testdata having no NULLs)
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        .alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"), F.lit(64).alias("height"),
            # same NULL→empty normalization as the payload: a NULL text is
            # an empty clip (0 ms), not a NULL duration
            (F.length(F.coalesce(F.col("text"), F.lit(""))) * 10)
            .cast("int").alias("duration_ms"),
        ).alias("meta"))


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_stub)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(
                    lambda b: len(b) if b is not None else 0),
                "feature": feats,
                "feature_csv": feats.map(
                    lambda fs: ",".join("%.6f" % f for f in fs)),
            })

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=FEATURE_SCHEMA)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: synth media → binary features, exactly oracled.

    The gate-facing projection serializes the vector as a fixed-format CSV
    string — array<float> cells are unsortable by the driver's pandas
    canonicalizer; ``extract_features`` keeps the array for internal use.
    The deterministic stub decode is md5-derived, so the whole mapInPandas
    path (synth → binary payload → Arrow batches → feature) is reproduced
    in SQL: byte i of md5(payload) / 255 printf'd identically (verified:
    DuckDB printf and Python %-format agree on all 256 byte values).
    """
    feats = extract_features(synth_media(spark, sf_dir))
    return (
        feats.select("media_id", "kind", "n_bytes", "feature_csv")
        .orderBy("media_id")
    )


def _media_features_sql() -> str:
    from .common import HEX

    def byte_expr(i: int) -> str:
        # coalesce mirrors synth_media's NULL→b'' payload normalization
        return (f"((instr('{HEX}', substr(md5(coalesce(text, '')), "
                f"{2 * i + 1}, 1)) - 1) * 16 + "
                f"(instr('{HEX}', substr(md5(coalesce(text, '')), "
                f"{2 * i + 2}, 1)) - 1))")

    csv = " || ',' || ".join(
        f"printf('%.6f', CAST({byte_expr(i)} AS DOUBLE) / 255.0)"
        for i in range(_FEATURE_DIM))
    return f"""
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
       CAST(strlen(coalesce(text, '')) AS INTEGER) AS n_bytes,
       {csv} AS feature_csv
FROM documents WHERE doc_id < {_MEDIA_LIMIT} ORDER BY media_id
"""


MEDIA_FEATURES_SQL = _media_features_sql()


# --- real container-header parsing (r5) --------------------------------------
# The decode step stays honestly stubbed (no codecs in this container), but
# container HEADERS are pure byte-offset reads — PNG IHDR, GIF logical
# screen, canonical RIFF/WAVE fmt+data — so that layer is implemented for
# real: deterministic container bytes are synthesized JVM-side (hex
# construction, no Python in the synth), parsed in an Arrow-batched
# mapInPandas, and oracled closed-form (the parser must invert the synth
# exactly; a garbage tier exercises the failure path through the gate).

import struct

HEADER_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("parse_ok", T.BooleanType()),
])

_HDR_LIMIT = 96


def _le_hex(expr: str, nbytes: int) -> str:
    """SQL hex string of ``expr`` as a little-endian nbytes integer."""
    hexs = f"lpad(lower(hex({expr})), {2 * nbytes}, '0')"
    pairs = ", ".join(
        f"substr({hexs}, {2 * nbytes - 1 - 2 * i}, 2)" for i in range(nbytes))
    return f"concat({pairs})"


def synth_container_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) with REAL container bytes, built entirely
    JVM-side: doc_id%4 → PNG / GIF89a / canonical WAV / garbage."""
    w = "((doc_id % 640) + 1)"
    h = "((doc_id % 480) + 1)"
    be32 = "lpad(lower(hex({e})), 8, '0')"
    png = ("concat('89504e470d0a1a0a', '0000000d', '49484452', "
           f"{be32.format(e=w)}, {be32.format(e=h)}, '0802000000', "
           "'00000000')")
    gif = f"concat('474946383961', {_le_hex(w, 2)}, {_le_hex(h, 2)}, '00')"
    rate = "(8000 + (doc_id % 8) * 1000)"
    ch = "(1 + doc_id % 2)"
    data = "(((doc_id % 1000) + 1) * 4)"
    wav = ("concat('52494646', " + _le_hex(f"(36 + {data})", 4) +
           ", '57415645', '666d7420', " + _le_hex("16", 4) + ", " +
           _le_hex("1", 2) + ", " + _le_hex(ch, 2) + ", " +
           _le_hex(rate, 4) + ", " + _le_hex(f"({rate} * {ch} * 2)", 4) +
           ", " + _le_hex(f"({ch} * 2)", 2) + ", " + _le_hex("16", 2) +
           ", '64617461', " + _le_hex(data, 4) + ")")
    garbage = "substr(md5(cast(doc_id as string)), 1, 10)"  # 5 bytes: short
    payload_hex = (f"case when doc_id % 4 = 0 then {png} "
                   f"when doc_id % 4 = 1 then {gif} "
                   f"when doc_id % 4 = 2 then {wav} "
                   f"else {garbage} end")
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < _HDR_LIMIT)
            .select(F.col("doc_id").alias("media_id"),
                    F.expr(f"unhex({payload_hex})").alias("payload")))


def parse_media_header(b) -> tuple:
    """(container, width, height, sample_rate, channels, duration_ms, ok).

    Header-only reads: PNG signature+IHDR (big-endian), GIF87a/89a logical
    screen (little-endian u16), canonical 44-byte RIFF/WAVE with PCM fmt
    and a 'data' chunk at offset 36.  Anything else — short payloads,
    unknown magic, non-canonical WAV layouts, zero-denominator WAV fmt
    fields — reports the uniform refusal row ('unknown', all-None,
    parse_ok=False) rather than guessing."""
    if b is None or len(b) < 6:
        return ("unknown", None, None, None, None, None, False)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h, None, None, None, True)
    if b[:6] in (b"GIF89a", b"GIF87a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h, None, None, None, True)
    if (b[:4] == b"RIFF" and len(b) >= 44 and b[8:12] == b"WAVE"
            and b[12:16] == b"fmt " and b[36:40] == b"data"):
        channels, = struct.unpack("<H", b[22:24])
        rate, = struct.unpack("<I", b[24:28])
        bits, = struct.unpack("<H", b[34:36])
        data_len, = struct.unpack("<I", b[40:44])
        denom = rate * channels * (bits // 8)
        if denom <= 0:
            # uniform refusal shape: every parse_ok=False row reports
            # container='unknown' with all-None fields, so consumers may
            # filter on container alone without also checking parse_ok
            return ("unknown", None, None, None, None, None, False)
        return ("wav", None, None, rate, channels,
                data_len * 1000 // denom, True)
    return ("unknown", None, None, None, None, None, False)


def parse_media_headers(media: DataFrame) -> DataFrame:
    """mapInPandas header parse: binary batches in, typed metadata out."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["container", "width", "height", "sample_rate", "channels",
                "duration_ms", "parse_ok"]
        for pdf in batches:
            parsed = [parse_media_header(b) for b in pdf["payload"]]
            out = pd.DataFrame(parsed, columns=cols)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.select("media_id", "payload").mapInPandas(
        gen, schema=HEADER_META_SCHEMA)


def media_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: synth container bytes → parse headers.  Single scan →
    JVM hex projection → one mapInPandas → deterministic order."""
    return (parse_media_headers(synth_container_media(spark, sf_dir))
            .orderBy("media_id"))


def _media_header_meta_sql() -> str:
    """Closed-form oracle: the parser must exactly invert the synth.
    Integer math mirrors Python's floor division (all operands
    positive)."""
    return f"""
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            WHEN 2 THEN 'wav' ELSE 'unknown' END AS container,
       CASE WHEN doc_id % 4 IN (0, 1)
            THEN CAST((doc_id % 640) + 1 AS INTEGER) END AS width,
       CASE WHEN doc_id % 4 IN (0, 1)
            THEN CAST((doc_id % 480) + 1 AS INTEGER) END AS height,
       CASE WHEN doc_id % 4 = 2
            THEN CAST(8000 + (doc_id % 8) * 1000 AS INTEGER)
            END AS sample_rate,
       CASE WHEN doc_id % 4 = 2
            THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 4 = 2
            THEN CAST(((((doc_id % 1000) + 1) * 4) * 1000)
                      // ((8000 + (doc_id % 8) * 1000)
                          * (1 + doc_id % 2) * 2) AS INTEGER)
            END AS duration_ms,
       doc_id % 4 <> 3 AS parse_ok
FROM documents WHERE doc_id < {_HDR_LIMIT} ORDER BY media_id
"""


MEDIA_HEADER_META_SQL = _media_header_meta_sql()
