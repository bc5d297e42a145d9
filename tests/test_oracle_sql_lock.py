"""Fingerprint lock on the DuckDB oracle SQL text (no Spark).

Every ``__spark_entry__.oracle_sql()`` entry is the reference a query is
gated against, so its text must not move by accident: a refactor of the
builders that generate it has to reproduce it byte for byte.
tests/golden/oracle_sql_sha256.json holds one sha256 per entry plus the
combined digest (entries in sorted order, each hashed as ``name\\0sql\\0``).

Regenerating the file is a declared oracle change, to be named as such
in the change that makes it:
    python tests/test_oracle_sql_lock.py
"""

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "tests", "golden", "oracle_sql_sha256.json")


def fingerprints():
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    combined = hashlib.sha256()
    for name in sorted(sqls):
        combined.update(f"{name}\0{sqls[name]}\0".encode())
    return {"combined": combined.hexdigest(),
            "entries": {name: hashlib.sha256(sqls[name].encode()).hexdigest()
                        for name in sorted(sqls)}}


def test_oracle_sql_matches_fingerprints():
    want = json.load(open(GOLDEN))
    got = fingerprints()
    assert sorted(got["entries"]) == sorted(want["entries"])
    moved = sorted(n for n in want["entries"]
                   if got["entries"][n] != want["entries"][n])
    assert not moved, f"oracle SQL text changed: {moved}"
    assert got["combined"] == want["combined"]


if __name__ == "__main__":
    text = json.dumps(fingerprints(), indent=1, sort_keys=True) + "\n"
    with open(GOLDEN, "w") as f:
        f.write(text)
    print(f"wrote {GOLDEN}")
