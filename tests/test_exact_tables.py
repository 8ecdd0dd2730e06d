"""The exact-libm tables (``functions.stats``): every head that joins a
driver-side ``f(int)`` table builds it as a JVM-side local relation, and
the distinct-value collect honours the guard."""

from __future__ import annotations

import random

import pytest

from vtb_datafusion_2023_spark.functions import stats
from vtb_datafusion_2023_spark.operators import dedup, profile, text


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 20)))) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _drift_psi(docs):
    spark = docs.sparkSession
    a = spark.range(50).selectExpr("cast(id % 7 as double) as v")
    b = spark.range(80).selectExpr("cast(id % 5 as double) as v")
    return profile.drift_psi(a, b, "v", [0.0, 2.0, 4.0, 6.0])


SITES = {
    "bm25_search": lambda d: text.bm25_search(d, ["w1", "w3", "w5"]),
    "unigram_logprob": text.unigram_logprob,
    "bigram_logprob": text.bigram_logprob,
    "token_entropy": text.token_entropy,
    "stupid_backoff_logprob": text.stupid_backoff_logprob,
    "bigram_pmi": lambda d: text.bigram_pmi(d, min_count=2),
    "tfidf": text.tfidf,
    "simhash_idf_chunks": lambda d: dedup.simhash_idf_chunks(d, "doc_id", "text"),
    "drift_psi": _drift_psi,
}


@pytest.mark.parametrize("site", list(SITES))
def test_exact_table_is_a_local_relation(spark, docs, monkeypatch, site):
    """Under the default guard each head's driver-side tables plan as a
    LocalRelation: no LogicalRDD over a PythonRDD, so no job that reads
    them starts a Python worker."""
    built = []
    create = type(spark).createDataFrame

    def recording(self, *args, **kwargs):
        frame = create(self, *args, **kwargs)
        built.append(frame)
        return frame

    monkeypatch.setattr(type(spark), "createDataFrame", recording)
    out = SITES[site](docs)
    assert built, "no driver-side table was built"
    for frame in built:
        plan = frame._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", plan.toString()
        assert "LogicalRDD" not in plan.toString()
    assert out.count() > 0


def test_exact_ints_unions_sources_under_the_guard(spark, monkeypatch):
    a = spark.createDataFrame([(3,), (1,), (None,), (3,)], "x bigint")
    b = spark.createDataFrame([(2,), (1,)], "y int")
    assert stats.exact_ints((a, "x"), (b, "y")) == [1, 2, 3]
    monkeypatch.setattr(stats, "EXACT_LN_GUARD", 3)
    assert stats.exact_ints((a, "x"), (b, "y")) == [1, 2, 3]
    monkeypatch.setattr(stats, "EXACT_LN_GUARD", 2)
    assert stats.exact_ints((a, "x"), (b, "y")) is None
    assert stats.guarded([5, 4]) == [4, 5] and stats.guarded([1, 2, 3]) is None
