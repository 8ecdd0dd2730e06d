"""Each operator ships one production path: the selectors below picked
between an engine path and a differential alternative, and the
alternatives now live in tests as reference implementations.  This
guard fails if any of them is accepted again, as it does for the
parameters that no caller set, for frames of Python rows built outside
``sources.readers.small_frame`` and for copies of the A10/A11 statistic
names and of A7's rank-interpolation text, which only ``sqlgen`` spells,
for a second in-bucket pair expansion beside
``dedup._bucket_pair_structs``, for a per-query top-k outside
``similarity._rank``, for a DuckDB dot-product fold outside
``datapipe._dot_sql`` and for an LM-family log, count pin or per-doc
fold outside its ``text``/``stats`` helper.  It needs no SparkSession."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
import re

import pytest

import vtb_datafusion_2023_spark as package
from vtb_datafusion_2023_spark import functions, sqlgen
from vtb_datafusion_2023_spark.functions import stats
from vtb_datafusion_2023_spark.operators import (
    analytics,
    cleaning,
    dedup,
    filtering,
    graph,
    joins,
    profile,
    similarity,
    text,
    windows,
)
from vtb_datafusion_2023_spark.plans import features, submission
from vtb_datafusion_2023_spark.sources import readers, writers
from vtb_datafusion_2023_spark.streaming import dedup as streaming_dedup
from vtb_datafusion_2023_spark.suite import datapipe

MODULES = [
    importlib.import_module(m.name)
    for m in pkgutil.walk_packages(package.__path__, package.__name__ + ".")
]

REMOVED = [
    (features.branch_c_features, "fused"),
    (features.branch_c_features, "materialize"),
    (submission.run_submission, "bucket_dir"),
    (submission.run_submission, "scorer"),
    (submission.run_submission, "sampler"),
    (submission.run_submission, "output_path"),
    (submission.run_submission, "seed"),
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
    (dedup.minhash_band_table, "shingle_strategy"),
    (dedup.minhash_lsh_pairs, "shingle_strategy"),
    (dedup.incremental_minhash_pairs, "shingle_strategy"),
    (similarity.cosine_near_pairs, "exact"),
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
    (text.unigram_logprob, "min_count"),
    (text.unigram_logprob, "oov_weight"),
    (text.bigram_logprob, "min_count"),
    (text.bigram_logprob, "oov_weight"),
    (text.top_ngrams, "n_values"),
    (text.top_ngrams, "k"),
    (text.tfidf, "exact_idf"),
    (text.tfidf, "max_distinct_dfs"),
    (dedup.simhash_idf_chunks, "max_distinct_dfs"),
    (profile.profile, "approx"),
    (graph.pagerank, "materialize_aux"),
    (cleaning.pseudonymize, "keep_null"),
    (cleaning.rare_category_rewrite, "stats_source"),
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
        (submission, "feature_vector_column"),
        (joins, "join_labels"),
        (dedup, "minhash_signature"),
        (cleaning, "_cat_counts_top"),
        (cleaning, "_clean_stats_fused"),
        (dedup, "simhash64"),
        (dedup, "simhash64_agg"),
        (streaming_dedup, "_band"),
        *[
            (datapipe, name)
            for name in (
                "_DOT", "_NQ", "_NC", "_cosf", "_NRM", "_MRL_NRM", "_D16", "_BUCKET8",
                "_banded_sig_sql",
            )
        ],
        *[
            (module, name)
            for module in (stats, functions)
            for name in ("dsum", "davg", "sem", "skew_adjusted", "zscore_window")
        ],
        (stats, "DECIMAL_SUM_TYPE"),
    ],
)
def test_alternative_entry_point_gone(module, name):
    assert not hasattr(module, name)


class _Calls(ast.NodeVisitor):
    """``(enclosing function, line)`` of every call ``match`` accepts."""

    def __init__(self, match):
        self.match, self.functions, self.calls = match, [], []

    def visit_FunctionDef(self, node):
        self.functions.append(node.name)
        self.generic_visit(node)
        self.functions.pop()

    def visit_Call(self, node):
        if self.match(node):
            self.calls.append((self.functions[-1] if self.functions else None, node.lineno))
        self.generic_visit(node)


class _Strings(_Calls):
    """``(enclosing function, line)`` of every string constant ``match``
    accepts (f-string pieces included)."""

    def visit_Call(self, node):
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str) and self.match(node.value):
            self.calls.append((self.functions[-1] if self.functions else None, node.lineno))


@pytest.mark.parametrize("module", MODULES, ids=lambda m: m.__name__)
def test_no_python_list_frames(module):
    """Frames of Python rows go through ``small_frame`` (a JVM-side local
    relation), never ``createDataFrame``, whose Python-list form plans a
    PythonRDD that starts Python workers.  ``small_frame`` itself is the
    one caller."""
    finder = _Calls(
        lambda node: isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame"
    )
    finder.visit(ast.parse(inspect.getsource(module)))
    callers = [function for function, _ in finder.calls]
    assert callers == (["small_frame"] if module is readers else []), finder.calls


_DERIVED_NAME = re.compile(r"(amplitude|divmm)[1-5]")


@pytest.mark.parametrize(
    "module", [m for m in MODULES if m is not sqlgen], ids=lambda m: m.__name__
)
def test_stat_names_only_in_sqlgen(module):
    """The A10/A11 column names have one definition (``sqlgen``): no other
    module spells a derived amplitude/ratio name or lists the moment
    names by hand."""
    moments = set(sqlgen.MOMENT_COLS)
    for node in ast.walk(ast.parse(inspect.getsource(module))):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            assert not _DERIVED_NAME.search(node.value), (node.lineno, node.value)
        if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
            names = [
                e.value for e in node.elts if isinstance(e, ast.Constant) and e.value in moments
            ]
            assert len(names) < 3, (node.lineno, names)


_INTERP_NAME = re.compile(r"\b_t_(lo|hi|md)\b")


@pytest.mark.parametrize(
    "module", [m for m in MODULES if m is not sqlgen], ids=lambda m: m.__name__
)
def test_rank_interpolation_only_in_sqlgen(module):
    """A7's dynamic-percentile arithmetic has one definition (``sqlgen``):
    no other module spells its target positions."""
    for node in ast.walk(ast.parse(inspect.getsource(module))):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            assert not _INTERP_NAME.search(node.value), (node.lineno, node.value)


def _later_members_slice(node) -> bool:
    """``slice(members, i + 2, ...)``: the "every later member" slice of
    an in-bucket all-pairs expansion."""
    start = node.args[1] if len(node.args) >= 2 else None
    return (
        getattr(node.func, "attr", getattr(node.func, "id", None)) == "slice"
        and isinstance(start, ast.BinOp)
        and isinstance(start.op, ast.Add)
        and isinstance(start.right, ast.Constant)
        and start.right.value == 2
    )


def test_one_in_bucket_pair_expansion():
    """MinHash candidates and all three SimHash families expand buckets
    into pairs through ``dedup._bucket_pair_structs``; no other function
    in the package builds that expansion."""
    found = []
    for module in MODULES:
        finder = _Calls(_later_members_slice)
        finder.visit(ast.parse(inspect.getsource(module)))
        found += [(module.__name__, function) for function, _ in finder.calls]
    assert found == [(dedup.__name__, "_bucket_pair_structs")], found


def test_one_top_k_rank_in_similarity():
    """Every similarity top-k (the search tails, the PQ shortlist, the
    funnels' two cuts, the IVF cell choice) ranks through
    ``similarity._rank``: it holds the module's one ``row_number``."""
    finder = _Calls(
        lambda node: getattr(node.func, "attr", getattr(node.func, "id", None)) == "row_number"
    )
    finder.visit(ast.parse(inspect.getsource(similarity)))
    assert [function for function, _ in finder.calls] == ["_rank"], finder.calls


_FOLD = "list_reduce(list_transform(range(1, len("


def test_one_duckdb_dot_fold():
    """The oracles' left-fold dot product (and every norm and cosine built
    on it) is spelled once, by ``datapipe._dot_sql``."""
    found = []
    for module in MODULES:
        if module.__name__.startswith(package.__name__ + ".suite"):
            finder = _Strings(lambda text: _FOLD in text)
            finder.visit(ast.parse(inspect.getsource(module)))
            found += [(module.__name__, function) for function, _ in finder.calls]
    assert found == [(datapipe.__name__, "_dot_sql")], found


_LM_FAMILY = {
    "unigram_logprob", "bigram_logprob", "token_entropy", "stupid_backoff_logprob",
    "bigram_pmi", "top_ngrams", "_ngrams", "_count", "_ordered_sum",
}


def _is_call(name, owner=None):
    """A call of ``name`` (``owner.name`` when ``owner`` is given)."""
    def match(node):
        func = node.func
        return getattr(func, "attr", getattr(func, "id", None)) == name and (
            owner is None or getattr(getattr(func, "value", None), "id", None) == owner
        )

    return match


@pytest.mark.parametrize(
    "module,finder,helpers",
    [
        (text, _Calls(_is_call("log", "F")), []),
        (stats, _Calls(_is_call("log", "F")), ["with_ln"]),
        (text, _Calls(_is_call("localCheckpoint")), ["_count"]),
        (text, _Calls(_is_call("aggregate", "F")), ["_ordered_sum"]),
        (text, _Strings(lambda sql: "aggregate(" in sql), []),
    ],
    ids=["text-F.log", "stats-F.log", "localCheckpoint", "fold", "fold-sql"],
)
def test_lm_step_only_in_its_helper(module, finder, helpers):
    """The LM scorers share one exact-or-in-plan log (``stats.with_ln``),
    one pinned count table (``text._count``) and one ordered per-doc fold
    (``text._ordered_sum``): no other function of the family spells them."""
    finder.visit(ast.parse(inspect.getsource(module)))
    found = [f for f, _ in finder.calls if module is stats or f in _LM_FAMILY]
    assert found == helpers, finder.calls
