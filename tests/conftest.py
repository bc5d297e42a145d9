import os

import pytest

from readability_spark.transcripts import FIXTURE_DIR

# the reference checkout that holds the fixture corpus (<root>/test/test-pages)
REFERENCE_ROOT = os.path.dirname(os.path.dirname(FIXTURE_DIR))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference(path='test/test-pages'): needs this file or "
        "directory of the reference checkout; skipped by name without it")


def pytest_collection_modifyitems(config, items):
    for item in items:
        mark = item.get_closest_marker("requires_reference")
        if mark is None:
            continue
        rel = mark.args[0] if mark.args else "test/test-pages"
        path = os.path.join(REFERENCE_ROOT, rel)
        if not os.path.exists(path):
            item.add_marker(pytest.mark.skip(
                reason=f"requires_reference: {path} is absent"))


@pytest.fixture(scope="session")
def spark():
    from readability_spark.pipeline import build_session
    s = build_session("readability-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()
