"""Each operator ships one production path: the selectors below picked
between an engine path and a differential alternative, and the
alternatives now live in tests as reference implementations.  This
guard fails if any of them is accepted again.  It needs no
SparkSession."""

from __future__ import annotations

import inspect

import pytest

from vtb_datafusion_2023_spark.operators import analytics, dedup, similarity, windows
from vtb_datafusion_2023_spark.plans import features, submission
from vtb_datafusion_2023_spark.suite import datapipe

REMOVED = [
    (features.branch_c_features, "fused"),
    (features.branch_c_features, "materialize"),
    (submission.run_submission, "bucket_dir"),
    (submission.run_submission, "scorer"),
    (analytics.funnel, "strategy"),
    (analytics.pattern_spans, "strategy"),
    (analytics.pattern_spans, "broadcast_frontier"),
    (similarity.pq_encode, "method"),
    (similarity.pq_topk, "method"),
    (similarity.lsh_pq_topk, "method"),
    (similarity.embedding_gram, "method"),
    (dedup.dedup_clusters, "method"),
    (dedup.simhash_idf_chunks, "hash_family"),
    (dedup.simhash_idf_pairs, "hash_family"),
    (dedup.ngram_jaccard_pairs, "prefix_filter"),
    (dedup.ngram_jaccard_pairs, "position_filter"),
    (dedup.containment_pairs, "prefix_filter"),
    (dedup.containment_pairs, "position_filter"),
    (windows.with_rolling_time, "interval_frame"),
    (datapipe.pipeline_corpus_prep, "fused"),
]


@pytest.mark.parametrize(
    "fn,param", REMOVED, ids=[f"{fn.__name__}-{param}" for fn, param in REMOVED]
)
def test_removed_selector_not_accepted(fn, param):
    params = inspect.signature(fn).parameters
    assert param not in params
    assert not any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values())


@pytest.mark.parametrize(
    "module,name",
    [
        (analytics, "pattern_spans_joins"),
        (dedup, "connected_components_star"),
        (datapipe, "_corpus_prep"),
    ],
)
def test_alternative_entry_point_gone(module, name):
    assert not hasattr(module, name)

