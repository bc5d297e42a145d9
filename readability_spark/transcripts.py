"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Builds the (conv_id, turn_idx, role, text, tool, ts) table the north rule's
input_hint describes, fully seeded: fixture HTML pages embedded round-robin
plus template-generated articles / index pages / fragments, with Zipf-ish
skewed conversation lengths to exercise the salting path.  No wall clock,
no randomness outside the seeded PRNG — the same (seed, n_convs) always
yields byte-identical tables, which is what makes the two-parallelism
scaling benchmark an apples-to-apples comparison.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import random

from pyspark.sql import DataFrame, SparkSession

from .schema import TRANSCRIPT_SCHEMA

FIXTURE_DIR = "/root/reference/test/test-pages"
_FIXTURE_MAX_BYTES = 400_000
_FIXTURE_EVERY = 4
_EPOCH = _dt.datetime(2024, 1, 1)

_ROLES = ("user", "assistant", "tool")

_ARTICLE_TMPL = """<html lang="en"><head><title>Article {i}</title>
<meta property="og:site_name" content="SynthSite"></head><body>
<div class="content"><h2>Heading {i}</h2>
{paras}
</div><footer>footer text</footer></body></html>"""

_INDEX_TMPL = """<html><head><title>Index {i}</title></head><body>
<div class="listing"><ul>
{links}
</ul></div></body></html>"""


def _article_html(rng: random.Random, i: int) -> str:
    n_paras = rng.randint(3, 12)
    paras = "\n".join(
        "<p>" + " ".join(
            f"word{rng.randint(0, 999)}," if k % 7 == 3 else
            f"word{rng.randint(0, 999)}"
            for k in range(rng.randint(40, 120))
        ) + "</p>"
        for _ in range(n_paras)
    )
    return _ARTICLE_TMPL.format(i=i, paras=paras)


def _index_html(rng: random.Random, i: int) -> str:
    links = "\n".join(
        f'<li><a href="/item{k}">Item {k} descriptive link text</a></li>'
        for k in range(rng.randint(25, 80))
    )
    return _INDEX_TMPL.format(i=i, links=links)


def _load_fixture_pool() -> list[str]:
    pool = []
    if os.path.isdir(FIXTURE_DIR):
        for case in sorted(os.listdir(FIXTURE_DIR)):
            p = os.path.join(FIXTURE_DIR, case, "source.html")
            if (os.path.exists(p)
                    and os.path.getsize(p) <= _FIXTURE_MAX_BYTES):
                pool.append(
                    open(p, encoding="utf-8", errors="replace").read())
    return pool


def generate_rows(n_convs: int = 200, seed: int = 42,
                  use_fixtures: bool = True) -> list[tuple]:
    """Deterministic row list; conversation length ~ Zipf(a≈2) capped.

    Every ``_FIXTURE_EVERY``-th turn embeds a real fixture page (round-robin),
    the rest are seeded template articles/index pages/fragments.
    """
    rng = random.Random(seed)
    fixtures = _load_fixture_pool() if use_fixtures else []
    rows: list[tuple] = []
    fixture_i = 0
    for c in range(n_convs):
        # Zipf-ish skew: most convs short, a few very long
        r = rng.random()
        if r < 0.70:
            length = rng.randint(1, 8)
        elif r < 0.95:
            length = rng.randint(9, 40)
        else:
            length = rng.randint(100, 400)
        conv_id = f"conv_{c:08d}"
        for t in range(length):
            role = _ROLES[t % 3]
            tool = "browser" if role == "tool" else None
            if fixtures and (c * 31 + t) % _FIXTURE_EVERY == 0:
                text = fixtures[fixture_i % len(fixtures)]
                fixture_i += 1
            else:
                kind = rng.random()
                if kind < 0.6:
                    text = _article_html(rng, c * 1000 + t)
                elif kind < 0.85:
                    text = _index_html(rng, c * 1000 + t)
                elif kind < 0.95:
                    text = f"<div><p>short fragment {c}/{t}</p></div>"
                else:
                    text = ""          # degenerate turn
            ts = _EPOCH + _dt.timedelta(seconds=c * 7919 + t * 37)
            rows.append((conv_id, t, role, text, tool, ts))
    return rows


def generate_transcripts(spark: SparkSession, n_convs: int = 200,
                         seed: int = 42,
                         use_fixtures: bool = True) -> DataFrame:
    import pandas as pd

    rows = generate_rows(n_convs, seed, use_fixtures)
    # pandas → Arrow createDataFrame path: ~10× faster than py4j row
    # serialization for multi-MB HTML payload columns
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)


def write_transcripts(spark: SparkSession, path: str, n_convs: int = 200,
                      seed: int = 42) -> str:
    """Materialize once as parquet (bench reads this, so generation cost
    never pollutes throughput numbers).

    The cache key includes the generation parameters — a bare _SUCCESS
    check would silently reuse a stale table when SPARK_GRAFT_BENCH_CONVS
    (or the seed) changes — and the count and content hash of the
    fixture pool, so a missing or changed fixture corpus regenerates the
    table instead of reusing one built from another pool.  The key keeps
    its ``fixtures=True`` field so tables cached under it stay valid."""
    pool = _load_fixture_pool()
    pool_hash = hashlib.sha256()
    for page in pool:
        pool_hash.update(hashlib.sha256(page.encode()).digest())
    params = (f"n_convs={n_convs} seed={seed} fixtures=True "
              f"n_fixtures={len(pool)} "
              f"fixtures_sha256={pool_hash.hexdigest()}")
    marker = os.path.join(path, "_PARAMS")
    fresh = (os.path.exists(os.path.join(path, "_SUCCESS"))
             and os.path.exists(marker)
             and open(marker).read() == params)
    if not fresh:
        generate_transcripts(spark, n_convs, seed) \
            .repartition(32).write.mode("overwrite").parquet(path)
        with open(marker, "w") as f:
            f.write(params)
    return path
