"""Determinism + shape pins for the zipfian bench fixture (FIXTURES.md §6).

Recorded bench numbers for the raw AllPairs heads depend on the fixture
being BYTE-STABLE across rounds and hosts — gen_zipf.build is seeded
PCG64, and this test pins a content fingerprint so a numpy version bump
or an accidental edit that changes the corpus (and therefore every
recorded dd_ngram_jaccard / dd_containment number) fails loudly instead
of silently shifting the bench.

No SparkSession needed.
"""

import hashlib
import importlib.util
import os

GEN_ZIPF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "gen_zipf.py")


def _load():
    spec = importlib.util.spec_from_file_location("gen_zipf", GEN_ZIPF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_build_is_byte_stable():
    gz = _load()
    cols, n = gz.build(200, 1000)
    assert n == 220  # 200 base + 20 planted (doc_id % 10 == 0)
    h = hashlib.md5()
    for t in cols["text"]:
        h.update(t.encode())
        h.update(b"\0")
    h.update(bytes(str(list(cols["doc_id"])), "ascii"))
    assert h.hexdigest() == "d147b8c1455ccd3c2162dc096a896d77"


def test_planted_near_dups_clear_the_head_thresholds():
    """Every planted copy keeps the first 92% of tokens, so on DISTINCT
    unigrams containment(copy -> base) is exactly 1.0 (subset) and the
    pair's Jaccard = |copy-set| / |base-set|.  Verify the planted pairs
    are true positives for both heads' thresholds (0.9 / 0.8)."""
    gz = _load()
    cols, _ = gz.build(300, 2000)
    by_id = dict(zip(cols["doc_id"], cols["text"]))
    n_pairs = 0
    for d, text in by_id.items():
        if d < gz.PLANTED_OFFSET and d % 10 == 0:
            base = set(text.split())
            copy = set(by_id[d + gz.PLANTED_OFFSET].split())
            assert copy <= base  # prefix of the token stream => subset sets
            jac = len(copy & base) / len(copy | base)
            assert jac >= 0.8, (d, jac)
            n_pairs += 1
    assert n_pairs == 30


def test_schema_matches_driver_documents_table():
    gz = _load()
    cols, _ = gz.build(50, 500)
    assert list(cols) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert cols["doc_id"].dtype.kind == "i"
    assert cols["n_chars"].dtype.kind == "i"
    assert all(len(t) == c for t, c in zip(cols["text"], cols["n_chars"]))
