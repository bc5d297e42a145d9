"""Golden-hash regression lock over the 128-page fixture corpus.

Every deterministic output of the extractor is pinned (hashes for the
string fields, exact values for the scalars).  If a change moves any of
these, the test names the case and field — regenerate deliberately with
`python tools/gen_golden.py` only for intentional behavior changes.
"""

import json
import os

import pytest

from tools.gen_golden import BASE, HASH_FIELDS, OUT, SCALAR_FIELDS, h

pytestmark = pytest.mark.skipif(
    not os.path.exists(OUT), reason="golden file not generated")


@pytest.fixture(scope="module")
def golden():
    return json.load(open(OUT))


def test_corpus_complete(golden):
    assert len(golden) >= 128


@pytest.mark.requires_reference
def test_every_fixture_matches_golden(golden):
    from readability_core import extract

    mismatches = []
    for case, exp in golden.items():
        html = open(os.path.join(BASE, case, "source.html"),
                    encoding="utf-8", errors="replace").read()
        r = extract(html)
        for f in HASH_FIELDS:
            if h(r[f]) != exp[f]:
                mismatches.append((case, f))
        for f in SCALAR_FIELDS:
            if r[f] != exp[f]:
                mismatches.append((case, f, r[f], exp[f]))
        if round(r["top_score"], 6) != exp["top_score"]:
            mismatches.append((case, "top_score"))
        if round(r["article_possibility"], 6) != exp["article_possibility"]:
            mismatches.append((case, "article_possibility"))
    assert not mismatches, mismatches[:10]
