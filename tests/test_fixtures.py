"""Fixture-corpus tests over the 128 readability test pages
(/root/reference/test/test-pages/) — the correctness corpus from SURVEY.md §5.

Layers mirrored from the reference's own strategy:
1. every page extracts crash-free with a stable record shape;
2. readerable-flag agreement ≥ 92% corpus-wide (the reference's classifier
   itself diverges from Mozilla's isProbablyReaderable on a handful);
3. the reference's enabled relaxed ±20% length-ratio cases pass exactly
   (parity: src/test/fixture-comparison.test.ts:33-44, 94-101);
4. determinism: extract() is a pure function — two runs byte-identical.
"""

import json
import os
import re

import pytest

from readability_core import extract

pytestmark = pytest.mark.requires_reference

BASE = "/root/reference/test/test-pages"
CASES = sorted(
    d for d in (os.listdir(BASE) if os.path.isdir(BASE) else ())
    if os.path.exists(os.path.join(BASE, d, "source.html"))
)

# cases where the reference's own 5-rule classifier is known to disagree with
# Mozilla's isProbablyReaderable flag (verified by the corpus sweep)
KNOWN_CLASSIFY_DIVERGENCE = {
    "archive-of-our-own", "liberation-1", "lifehacker-working",
    "mozilla-2", "remove-aria-hidden", "seattletimes-1", "videos-2",
}

RATIO_CASES = ["001", "003-metadata-preferred",
               "004-metadata-space-separated-properties", "aclu"]


def load(case: str, name: str) -> str:
    return open(os.path.join(BASE, case, name),
                encoding="utf-8", errors="replace").read()


@pytest.fixture(scope="module")
def results():
    out = {}
    for case in CASES:
        out[case] = extract(load(case, "source.html"))
    return out


def test_all_cases_extract_crash_free(results):
    assert len(results) == len(CASES) >= 128
    for case, r in results.items():
        assert r["page_type"] in ("article", "other"), case
        assert isinstance(r["extracted_text"], str), case
        assert isinstance(r["node_count"], int), case


def test_readerable_agreement(results):
    agree = 0
    unexpected = []
    for case, r in results.items():
        expected = json.loads(load(case, "expected-metadata.json"))["readerable"]
        got = r["page_type"] == "article"
        if got == expected:
            agree += 1
        elif case not in KNOWN_CLASSIFY_DIVERGENCE:
            unexpected.append((case, expected, got))
    assert not unexpected, f"new divergences: {unexpected}"
    assert agree / len(results) >= 0.92


@pytest.mark.parametrize("case", RATIO_CASES)
def test_relaxed_length_ratio(case, results):
    source = load(case, "source.html")
    expected = load(case, "expected.html")

    def norm(h):
        return re.sub(r"\s+", " ", h.lower())

    ratio_expected = len(norm(expected)) / len(source)
    ratio_got = len(norm(results[case]["extracted_html"])) / len(source)
    assert ratio_expected * 0.8 < ratio_got < ratio_expected * 1.2


def test_extraction_deterministic():
    html = load("001", "source.html")
    a, b = extract(html), extract(html)
    assert a == b


def test_titles_on_curated_cases(results):
    for case, expected_title in [
        ("001", "Get your Frontend JavaScript Code Covered | Code"),
        ("wikipedia", None),   # presence only
    ]:
        title = results[case]["title"]
        assert title, case
        if expected_title:
            assert title.startswith(expected_title.split("|")[0].strip()), case


def test_rtl_lang_detected(results):
    meta = json.loads(load("rtl-1", "expected-metadata.json"))
    if meta.get("lang"):
        assert results["rtl-1"]["lang"] == meta["lang"]


def test_spans_within_document(results):
    for case, r in results.items():
        if r["span_start"] >= 0:
            assert r["span_end"] > r["span_start"], case


def test_corpus_wide_length_ratio_coverage(results):
    """Corpus-wide quality metric: fraction of all 128 fixtures whose
    normalized extracted-HTML/source length ratio is within ±20% of the
    expected.html ratio. The reference only claims 4 enabled cases
    (fixture-comparison.test.ts:33-44, with e.g. 005 and archive-of-our-own
    explicitly disabled as failing); we pin the corpus-wide floor so it can
    only improve.

    Diagnosis of the 59 out-of-band fixtures (expected.html is MOZILLA
    readability output; the reference algorithm is deliberately different,
    so parity with the reference caps this metric):

    - 10 extract nothing: the reference's 5-rule classifier returns
      `other` (classify.ts:17-64) where Mozilla's isProbablyReaderable says
      readerable — the reference itself produces no content there (several
      are in KNOWN_CLASSIFY_DIVERGENCE).
    - ~8 under-extract: pages whose body is styled-<div> paragraphs
      (royal-road, ehow-1, herald-sun-1…). The reference scores only
      section/h2-h6/p/td/pre (extract.ts:46 imports ../constants.ts:12 —
      NOT the extended div/article/main list in extract/constants.ts:2,
      which is dead code), so div-paragraph content loses to small <p>
      clusters. Faithful by construction; Mozilla div→p-converts.
    - ~41 over-extract: the reference keeps <template>/<svg> subtrees and
      every non-class attribute (preprocess.ts:11-33 removal list matches
      ours 1:1; toHTML format.ts:15-97 drops only class/span), while
      Mozilla's expected.html strips scripts-in-template, svg innards and
      data-*/onclick noise. Our to_html is byte-faithful to format.ts.

    Raising this floor materially would require diverging from the
    reference's scoring/preprocess — out of scope by design; the floor is
    pinned at the achieved value so regressions fail fast."""
    passing = 0
    total = 0
    rel_errors = []
    for case, r in results.items():
        ep = os.path.join(BASE, case, "expected.html")
        if not os.path.exists(ep):
            continue
        source = load(case, "source.html")
        expected = load(case, "expected.html")

        def norm(h):
            return re.sub(r"\s+", " ", h.lower())

        ratio_exp = len(norm(expected)) / len(source)
        ratio_got = len(norm(r["extracted_html"])) / len(source)
        total += 1
        if ratio_exp * 0.8 < ratio_got < ratio_exp * 1.2:
            passing += 1
        if ratio_exp:
            rel_errors.append(abs(ratio_got - ratio_exp) / ratio_exp)
    assert total >= 128
    assert passing / total >= 0.53, f"{passing}/{total}"   # achieved: 69/128
    rel_errors.sort()
    assert rel_errors[len(rel_errors) // 2] <= 0.20   # median rel. error
