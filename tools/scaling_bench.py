"""Multiprocessing control for bench.py's self-normalization.

``mp_control(k)`` runs the same per-turn extraction as bench.py's flagship
job in a plain ``multiprocessing`` pool of ``k`` workers — no JVM, no
shuffle, no Arrow — over the bench transcript table, and returns its
docs/sec.  bench.py interleaves it with the Spark job and divides by it, so
a host-wide slowdown moves both sides alike.

The r1–r8 2/8/32-level scaling runs this module used to drive are recorded
in BENCH/scaling_history.jsonl and BENCH/BASELINE.md.
"""

from __future__ import annotations

import glob
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)        # for the mp-control workers


def _mp_work(myfiles):
    import duckdb

    from readability_core import extract
    n = 0
    for f in myfiles:
        for (t,) in duckdb.sql(f"select text from '{f}'").fetchall():
            extract(t, build_aria=False)
            n += 1
    return n


def mp_control(k: int) -> tuple[float, int]:
    """docs/sec of a plain multiprocessing pool doing the same extraction."""
    files = sorted(glob.glob(os.path.join(
        REPO, "BENCH", "data", "transcripts_bench", "*.parquet")))
    chunks = [files[i::k] for i in range(k)]
    t0 = time.time()
    with mp.Pool(k) as pool:
        total = sum(pool.map(_mp_work, chunks))
    dt = time.time() - t0
    return total / dt, total
