"""Each operator ships one production path: the selectors below picked
between an engine path and a differential alternative, and the
alternatives now live in tests as reference implementations.  This
guard fails if any of them is accepted again, as it does for the
parameters that no caller set and for driver-side tables built outside
the one exact-libm helper (``functions.stats.join_exact``).  It needs no
SparkSession."""

from __future__ import annotations

import ast
import inspect

import pytest

from vtb_datafusion_2023_spark.operators import (
    analytics,
    cleaning,
    dedup,
    filtering,
    graph,
    profile,
    similarity,
    text,
    windows,
)
from vtb_datafusion_2023_spark.plans import features, submission
from vtb_datafusion_2023_spark.sources import readers, writers
from vtb_datafusion_2023_spark.suite import datapipe

REMOVED = [
    (features.branch_c_features, "fused"),
    (features.branch_c_features, "materialize"),
    (submission.run_submission, "bucket_dir"),
    (submission.run_submission, "scorer"),
    (submission.run_submission, "sampler"),
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
    (text.unigram_logprob, "exact_log"),
    (text.bigram_logprob, "exact_log"),
    (text.token_entropy, "exact_log"),
    (text.stupid_backoff_logprob, "exact_log"),
    (text.bigram_pmi, "exact_log"),
    (text.tfidf, "exact_idf"),
    (text.tfidf, "max_distinct_dfs"),
    (dedup.simhash_idf_chunks, "max_distinct_dfs"),
    (profile.profile, "approx"),
    (graph.pagerank, "materialize_aux"),
    (cleaning.pseudonymize, "keep_null"),
    (filtering.frequency_filter, "keep_above"),
    (readers.read_transactions_csv, "drop_null"),
    (readers.read_jsonl, "drop_corrupt"),
    (writers.write_jsonl, "single_file"),
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
        (text, "_NO_GUARD"),
        (text, "_distinct_ints_under_guard"),
    ],
)
def test_alternative_entry_point_gone(module, name):
    assert not hasattr(module, name)


@pytest.mark.parametrize("module", [text, dedup, profile], ids=lambda m: m.__name__)
def test_no_python_list_frames(module):
    """Driver-side tables in these modules go through ``small_frame``
    (a JVM-side local relation), never ``createDataFrame``, whose
    Python-list form plans a PythonRDD that starts Python workers."""
    tree = ast.parse(inspect.getsource(module))
    calls = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert calls == []

