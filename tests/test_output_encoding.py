"""The output table stores a repeated record once per column chunk.

run_pipeline(dedup_payloads=True) extracts each distinct payload once and
joins the record back to every turn that carries it.  build_session
raises parquet's dictionary page limit to PARQUET_DICT_PAGE_BYTES, so the
copies of a whale's extracted_text/extracted_md are dictionary entries
rather than full PLAIN values; at parquet's 1 MiB default each copy of a
record over the limit is written in full.
"""

import glob
import os
import random

import pyarrow.parquet as pq
import pytest

from readability_spark.pipeline import run_pipeline

TEXT_COLS = ("extracted_text", "extracted_md")


def _whale(seed: int, n_bytes: int) -> str:
    """An article of seeded random words: snappy cannot shrink one copy
    much, and the copies are too far apart for its window to share."""
    rng = random.Random(seed)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                     for _ in range(rng.randint(3, 9))) for _ in range(4000)]
    paras, size = [], 0
    while size < n_bytes:
        p = "<p>" + " ".join(rng.choice(vocab) for _ in range(80)) + ".</p>"
        paras.append(p)
        size += len(p)
    return ("<html><body><article><h1>Whale</h1>" + "".join(paras)
            + "</article></body></html>")


def _text_bytes(path: str) -> int:
    """Summed compressed size of the extracted_text/extracted_md column
    chunks over every file of the table at ``path``."""
    total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += sum(rg.column(c).total_compressed_size
                         for c in range(rg.num_columns)
                         if rg.column(c).path_in_schema in TEXT_COLS)
    return total


def _records(path: str) -> dict:
    return {(r["conv_id"], r["turn_idx"]): r
            for r in pq.read_table(path).to_pylist()}


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """One 1.6 MB whale three times, one 1.2 MB whale once and 30 small
    turns, as one input file; plus the same corpus with the repeated whale
    once.  Returns the output path per run."""
    base = tmp_path_factory.mktemp("encoding")
    repeated, other = _whale(1, 1_600_000), _whale(2, 1_200_000)
    small = [("small", i, "user", f"<p>short turn number {i}</p>")
             for i in range(30)]
    corpora = {
        "repeated": [("w", i, "tool", repeated) for i in range(3)]
        + [("w", 3, "tool", other)] + small,
        "once": [("w", 0, "tool", repeated), ("w", 3, "tool", other)] + small,
    }
    out = {}
    for name, dedup in (("repeated", True), ("once", True),
                        ("repeated", False)):
        run = f"{name}_{'dedup' if dedup else 'plain'}"
        inp = str(base / run / "in")
        spark.createDataFrame(
            corpora[name],
            "conv_id string, turn_idx int, role string, text string"
        ).coalesce(1).write.parquet(inp)
        out[run] = str(base / run / "out")
        run_pipeline(spark, inp, out[run], str(base / run / "metrics"),
                     num_buckets=4, dedup_payloads=dedup)
    return out


def test_repeated_whale_is_stored_once(tables):
    repeated = _text_bytes(tables["repeated_dedup"])
    once = _text_bytes(tables["once_dedup"])
    # two whales of text, not four: PLAIN copies read about 2.1x here
    assert repeated < 1.5 * once, (repeated, once)


def test_dedup_records_read_back_equal_plain_run(tables):
    dedup = _records(tables["repeated_dedup"])
    plain = _records(tables["repeated_plain"])
    assert len(dedup) == 34
    assert dedup == plain
