"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

These extend the reference's tabular feature engineering to the document
domain (north-star extensions; BASELINE.json).  Everything is built from
JVM-side ``pyspark.sql.functions`` string/array expressions — no Python
UDFs.  The per-document features (quality, langid, fingerprint, token
count, repetition, chunking, PII scrub, HTML strip) stay inside
whole-stage codegen as a narrow map over the corpus (100 TB = one scan,
no shuffle).  The corpus-statistics family (TF-IDF, BM25, the LM
scorers) additionally pays one hash aggregation per count table.  Their
logarithms take integer arguments and come from the exact-libm tables of
``functions.stats`` (bitwise equal to the DuckDB oracle's ``ln``) while
the distinct arguments stay under ``stats.EXACT_LN_GUARD``; past it the
scorers and :func:`tfidf` switch to in-plan ``F.log``.

The six LM functions (:func:`unigram_logprob`, :func:`bigram_logprob`,
:func:`token_entropy`, :func:`stupid_backoff_logprob`,
:func:`bigram_pmi`, :func:`top_ngrams`) are one count-and-score engine
of four stages, each written once: :func:`_ngrams` (the ``(pos,
w1..wn)`` n-gram stream), :func:`_count` (a count table pinned once
with a lazy ``localCheckpoint``), ``stats.with_ln`` (the exact table or
in-plan ``F.log``) and :func:`_ordered_sum` (the per-document fold in
position or term order, seeded from its first element like DuckDB's
``list_reduce``).  Each scorer says only which count tables it builds
and its log-probability expression.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.stats import exact_ints, exact_ints_agg, guarded, join_exact, with_ln

# A small English stopword list (public knowledge); frozen so language
# scores are reproducible.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
]

# BPE-ish token pattern: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def with_text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: token count, average token length,
    stopword ratio, punctuation ratio, uppercase ratio.

    Mirrors standard pretraining-corpus quality filters (length /
    punctuation / stopword heuristics).
    """
    toks = tokens(text_col)
    n_tok = F.size(toks)
    text = F.col(text_col)
    n_chars = F.length(text)
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop_arr))  # distinct-overlap count
    # duplicate-aware stopword count (ratio denominator = token count)
    n_stop_all = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", n_chars)
        .withColumn(
            "avg_token_len",
            (n_chars - (n_tok - F.lit(1))) / n_tok,  # chars minus separators
        )
        .withColumn("stopword_ratio", n_stop_all / n_tok)
        .withColumn("distinct_stopwords", n_stop)
        .withColumn("punct_ratio", n_punct / n_chars)
    )


def with_langid(df: DataFrame, text_col: str = "text", threshold: float = 0.05) -> DataFrame:
    """Heuristic language ID: English stopword density.  A real pipeline
    swaps in fastText/CLD3 behind the same column contract."""
    out = with_text_quality(df, text_col) if "stopword_ratio" not in df.columns else df
    return out.withColumn(
        "lang_pred", F.when(F.col("stopword_ratio") > threshold, "en").otherwise("und")
    )


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / punctuation singles)."""
    return df.withColumn("n_ws_tokens", F.size(tokens(text_col))).withColumn(
        "n_bpe_tokens", F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition quality metric: fraction of whitespace tokens that are
    duplicates of an earlier token (0 = all distinct, ->1 = degenerate
    repetition).  The standard pretraining filter for boilerplate/spam;
    pure codegen expressions, no shuffle."""
    toks = tokens(text_col)
    return df.withColumn(
        "dup_token_ratio",
        (F.size(toks) - F.size(F.array_distinct(toks))).cast("double") / F.size(toks),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into ``chunk_tokens``-token windows
    (context-window chunking for training-data prep): one output row per
    chunk, ``(doc_col, chunk_id, chunk, n_chunk_tokens)``.

    ``stride`` (default = ``chunk_tokens``, i.e. disjoint windows) <
    ``chunk_tokens`` gives OVERLAPPING sliding windows — the standard
    train-prep shape that preserves cross-boundary context (each window
    shares ``chunk_tokens - stride`` tokens with its predecessor).
    Window count = 1 if the doc fits, else
    ``ceil((n - chunk_tokens)/stride) + 1`` (last window ragged).

    Explode of a computed index range — a narrow per-row fan-out that
    needs no shuffle and streams at scan speed.
    """
    if stride is None:
        stride = chunk_tokens
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(f"stride must be in [1, chunk_tokens], got {stride}")
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = (
        F.when(n <= chunk_tokens, F.lit(1).cast("bigint"))
        .otherwise(F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("bigint") + 1)
    )
    ex = df.select(
        doc_col,
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("_toks"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        chunk_tokens,
    )
    return ex.select(
        doc_col,
        "chunk_id",
        F.array_join(sliced, " ").alias("chunk"),
        F.size(sliced).alias("n_chunk_tokens"),
    )


def segment_dedup(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    segment_tokens: int = 16,
    max_count: int = 1,
) -> DataFrame:
    """C4-style duplicate-span removal: split every document into
    consecutive ``segment_tokens``-token segments, drop each segment whose
    exact text occurs more than ``max_count`` times in the WHOLE corpus
    (boilerplate, license headers, navigation chrome), and reassemble the
    survivors in original order.  Documents whose every segment was
    boilerplate disappear entirely.

    Returns ``(doc_col, text_dedup, n_segments_kept)``.

    Scale: explode is a narrow fan-out; the global occurrence count is a
    window count partitioned by the segment text (ONE shuffle of the
    segment rows — no second join pass), and reassembly is one groupBy on
    the doc id.  Hot boilerplate segments land in one partition each;
    at 100 TB pre-hash the segment (`md5`) to keep shuffle keys small and
    let AQE split stragglers.
    """
    from pyspark.sql.window import Window

    seg = chunk_documents(df, text_col=text_col, doc_col=doc_col, chunk_tokens=segment_tokens)
    kept = (
        seg.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("chunk")))
        .filter(F.col("_n") <= max_count)
    )
    ordered = F.array_sort(F.collect_list(F.struct("chunk_id", "chunk")))
    return kept.groupBy(doc_col).agg(
        F.array_join(F.transform(ordered, lambda s: s["chunk"]), " ").alias("text_dedup"),
        F.count(F.lit(1)).alias("n_segments_kept"),
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-``k`` document search for a bag of ``query_terms``:
    ``score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with the Robertson-Sparck-Jones idf ``ln(1 + (N-df+0.5)/(df+0.5))``.

    Returns ``(id_col, score, rank)`` for the top ``k`` docs, ties broken
    by id.

    Scale: the corpus is scanned once for per-doc lengths (partial-agg to
    one global avgdl) and once for the query terms' postings — the explode
    filters to the ≤|q| query terms BEFORE the (doc, term) aggregation, so
    the shuffle carries only matching postings, not the whole corpus
    vocabulary.  Per-term scores assemble via conditional aggregation in a
    FIXED term order, so the floating-point sum is deterministic across
    partitioning and engines.  idf is computed driver-side with libm
    ``math.log`` over the ≤|q| distinct df values (broadcast join) — same
    exact-log contract as :func:`tfidf`.  Final top-k is a rank over a
    |q|-column-wide aggregate of only the matching docs.
    """
    import math

    from pyspark.sql.window import Window

    terms = sorted(set(query_terms))
    toks = F.split(F.col(text_col), " ")
    lens = df.select(F.col(id_col), F.size(toks).cast("bigint").alias("dl"))
    totals = lens.agg(
        F.sum("dl").alias("_sum_dl"), F.count(F.lit(1)).alias("_n_docs")
    ).collect()[0]
    n_docs, avgdl = int(totals["_n_docs"]), float(totals["_sum_dl"]) / float(totals["_n_docs"])

    posting = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfs = [r[0] for r in df_t.select("df").distinct().collect()]  # <= |q| values
    scored = (
        join_exact(
            posting.join(df_t, "term"),
            "df",
            dfs,
            lambda d: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)),
            "_idf",
        )
        .join(lens, id_col)
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
    )
    # fixed-order sum: one conditional-max per query term, added textually
    # left-to-right -> bitwise-deterministic float total
    per_term = [
        F.max(F.when(F.col("term") == t, F.col("_s"))).alias(f"_s_{i}")
        for i, t in enumerate(terms)
    ]
    wide = scored.groupBy(id_col).agg(*per_term)
    score = None
    for i in range(len(terms)):
        c = F.coalesce(F.col(f"_s_{i}"), F.lit(0.0).cast("double"))
        score = c if score is None else score + c
    # distributed top-k (TakeOrdered: per-partition k-heaps, no global
    # sort), then rank the surviving <=k rows with a trivial window
    top = wide.withColumn("score", score).orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col(id_col)))
        .cast("bigint"),
    ).select(id_col, "score", "rank")


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token multiset (classic near-dup canonicalization — word-order
    invariant, whitespace-normal)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(c, " "))), " "))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fp", fingerprint(text_col))


def normalize_text(df: DataFrame, text_col: str = "text", out_col: str = "text_norm") -> DataFrame:
    """Canonical text normalization feeding dedup/fingerprinting: lowercase,
    non-alphanumerics -> space, whitespace collapsed and trimmed.  Pure
    codegen string expressions — shuffle-free, scan-speed."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.trim(F.regexp_replace(c, " +", " "))
    return df.withColumn(out_col, c)


def tfidf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus TF-IDF over whitespace terms: one row per (doc, term) with
    raw term frequency, document frequency, and ``tf * ln(N/df)``.

    Scale: two hash aggregations — (doc, term) then (term) — and one
    term-keyed join; no driver-side vocabulary.  idf depends only on the
    distinct ``df`` values (heavy-tailed small, far below the vocabulary
    size), so it comes from an exact-libm table (``functions.stats``)
    while they stay under ``EXACT_LN_GUARD``, and from in-plan ``F.log``
    past it.
    """
    import math

    terms = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("term"))
    # eager: tf feeds three consumers (df_t, the distinct-df collect, the
    # scoring join) — materialize once so none replays the corpus explode
    tf = (
        terms.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = float(df.count())
    joined = tf.join(df_t, "term")
    dfs = exact_ints((df_t, "df"))
    if dfs is not None:
        joined = join_exact(joined, "df", dfs, lambda d: math.log(n_docs / d), "_idf")
        idf = F.col("_idf")
    else:
        idf = F.log(F.lit(n_docs) / F.col("df"))
    return joined.select(id_col, "term", "tf", "df", (F.col("tf") * idf).alias("tfidf"))


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\+?\d[\d -]{7,14}\d\b"


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed") -> DataFrame:
    """Training-data PII redaction: emails, IPv4 addresses, and phone-like
    digit runs replaced with typed placeholder tokens.

    Pure codegen ``regexp_replace`` chain — shuffle-free, scan-speed.
    Patterns stay within the RE2-compatible subset (no lookarounds) so the
    same text runs on Java regex (Spark) and RE2 (DuckDB oracle)
    identically.  Order matters: emails first (their digit runs must not
    be phone-masked), then IPs (dotted digits), then phones.
    """
    c = F.col(text_col)
    c = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    c = F.regexp_replace(c, PII_PHONE, "<PHONE>")
    return df.withColumn(out_col, c)


def pack_sequences(
    df: DataFrame,
    target_tokens: int = 512,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-budget training packs: within each
    ``group_col`` shard, documents in ``id_col`` order are packed into
    bins of ~``target_tokens`` whitespace tokens — ``pack_id =
    floor(exclusive_running_tokens / target)``, so a pack may overflow by
    at most one document (the standard streaming-packing contract).

    Scale: the running sum windows PER SHARD, not globally — a global
    ordered cumsum is a single-task bottleneck at 100 TB, while shards
    (sources, date buckets) pack independently and in parallel.
    Deterministic: order is (id) within shard, no RNG.
    """
    from pyspark.sql.window import Window

    n_tok = F.size(tokens(text_col)).cast("bigint")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("pack_id", F.floor(pre / F.lit(target_tokens)))
        .select(id_col, group_col, "n_tokens", "pack_id")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per-document count of word n-grams that
    also appear in ``benchmark`` (the held-out eval corpus).  Returns
    ``(id_col, n_hits)`` for contaminated documents only; anti-join the
    result back (or use ``decontaminate_drop``) to clean the corpus.

    Scale shape: benchmarks are MB-scale while the corpus is TB-scale, so
    the distinct benchmark n-gram set is collected into a broadcast hash
    side — the corpus pass is a narrow shingle+probe with NO shuffle of
    document text; only (id, matched-gram) pairs reach the small grouped
    count.  Shingling reuses ``dedup.word_shingles`` (JVM-side, codegen).
    """
    from .dedup import word_shingles

    bench = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("_g"))
        .distinct()
    )
    grams = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_g")
    )
    return (
        grams.join(F.broadcast(bench), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-BENCHMARK-document contamination audit: for each eval doc, the
    fraction of its distinct word n-grams that appear ANYWHERE in the
    training corpus — the dirty/clean split every model release reports
    (the eval-side mirror of :func:`decontaminate`, which flags TRAIN
    docs; this measures how compromised each BENCHMARK item is, zero-hit
    docs included).

    Scale shape — the corpus is scanned ONCE and never shuffled:
    the benchmark gram universe (MB-scale) broadcasts; the corpus pass
    is a narrow shingle + broadcast semi-join, and the following
    ``distinct`` partial-aggregates per task, so the only corpus-side
    shuffle carries <= |bench universe| rows per task.  The surviving
    matched-gram set (<= the bench universe) broadcasts back onto the
    bench grams; every remaining aggregate and join is benchmark-sized.

    Returns ``(bench_id, n_grams, n_hit, contamination)`` —
    ``contamination = n_hit / n_grams`` as one correctly-rounded IEEE
    division of exact integer counts (bitwise cross-engine).
    """
    from .dedup import word_shingles

    # bg feeds three consumers (universe build, totals, hit counts) —
    # pin the benchmark-sized gram table once instead of replaying the
    # bench explode per reference.  EAGER: a lazy pin materializes on
    # whichever job touches it first, and the universe BROADCAST job can
    # race the main job into recomputing partitions; eager removes that
    # nondeterminism for the cost of one benchmark-sized job up front.
    # Measured sf0.1 A/B (warm, 2 trials): lazy 0.55/0.47 s vs eager
    # 0.47/0.50 s — a wash, so determinism wins (see SCALE.md).
    bg = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_shingles(text_col, n)).alias("_g"),
    ).localCheckpoint(eager=True)
    universe = bg.select("_g").distinct()
    matched = (
        corpus.select(F.explode(word_shingles(text_col, n)).alias("_g"))
        .join(F.broadcast(universe), "_g", "left_semi")
        .distinct()
    )
    totals = bg.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        bg.join(F.broadcast(matched), "_g", "left_semi")
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    return totals.join(hits, "bench_id", "left").select(
        "bench_id",
        "n_grams",
        n_hit.alias("n_hit"),
        (n_hit.cast("double") / F.col("n_grams").cast("double")).alias("contamination"),
    )


def decontaminate_drop(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus minus every document sharing >= 1 word n-gram with the
    benchmark (broadcast anti-join on the contaminated-id set)."""
    bad = decontaminate(docs, benchmark, id_col, text_col, n).select(id_col)
    return docs.join(F.broadcast(bad), id_col, "left_anti")


# HTML entities decoded by strip_html (frozen, order matters: &amp; last so
# freshly decoded ampersands don't cascade into further decoding).
HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def strip_html(df: DataFrame, text_col: str = "text", out_col: str = "text_clean") -> DataFrame:
    """C4-style HTML boilerplate stripping: drop ``<script>``/``<style>``
    blocks, remove comments and all remaining tags, decode the common
    entities, collapse whitespace.  The standard first pass when the raw
    corpus is crawled web pages.

    Pure codegen regexp/replace chain (RE2-safe patterns: no
    backreferences or lookarounds), one narrow projection — streams at
    scan speed over 100 TB, no shuffle.
    """
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


# The corpus LM family (see the module docstring).
LM_MIN_COUNT = 2  # unigram/bigram types seen fewer times score as OOV ...
LM_OOV_WEIGHT = 0.5  # ... at LM_OOV_WEIGHT / total
TOP_NGRAM_NS = (1, 2, 3)
TOP_NGRAM_K = 20
_W = ("w1", "w2", "w3")


def _ngrams(toks: Column, n: int) -> Column:
    """The ``(pos, w1..wn)`` struct of every word n-gram of the token
    array ``toks``, ``pos`` the 1-based position of ``w1``: the n shifted
    slices zipped, so ``toks`` is read once per document, not once per
    gram.  Empty below ``n`` tokens: the slice length is clamped at 0,
    where a ``sequence(1, size - n + 1)`` would count down."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, 1 + j, m) for j in range(n)])
    return F.transform(
        zipped,
        lambda g, i: F.struct(
            (i + 1).alias("pos"), *[g[str(j)].alias(_W[j]) for j in range(n)]
        ),
    )


def _count(frame: DataFrame, keys: list[str], out: str) -> DataFrame:
    """``frame``'s rows per ``keys`` as ``out``, pinned once (lazy
    ``localCheckpoint``, vocab-scale): a count table feeds a driver-side
    collect and the scoring joins, which would each replay the corpus
    explode."""
    return frame.groupBy(*keys).agg(F.count(F.lit(1)).alias(out)).localCheckpoint(eager=False)


def _ordered_sum(key: str, value: str) -> Column:
    """Aggregate: the group's ``value`` summed left to right in ``key``
    order, seeded from the first element as DuckDB's ``list_reduce`` is,
    so the float sum is the same on every partitioning and in the
    oracle."""
    vals = F.transform(F.array_sort(F.collect_list(F.struct(key, value))), lambda s: s[value])
    return F.aggregate(F.slice(vals, 2, F.size(vals)), F.element_at(vals, 1), lambda a, b: a + b)


def _doc_mean(scored: DataFrame, id_col: str, term: Column, n_out: str, out: str) -> DataFrame:
    """Per document of ``scored``: its gram count as ``n_out`` and the
    position-ordered sum of ``term`` over it as ``out``."""
    n = F.count(F.lit(1))
    return (
        scored.select(id_col, "pos", term.alias("_v"))
        .groupBy(id_col)
        .agg(n.alias(n_out), (_ordered_sum("pos", "_v") / n).alias(out))
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unigram language-model surprisal per document: mean
    ``-ln p(token)`` under the corpus's own unigram distribution, with
    tokens seen fewer than ``LM_MIN_COUNT`` times scored as OOV at
    ``LM_OOV_WEIGHT / total``.  High surprisal = rare-word soup / junk;
    low = repetitive boilerplate — the cheap LM-based quality filter
    between heuristics and a real perplexity model.

    One count table (one shuffle on the token) and one build-time job
    for the corpus total and the distinct in-vocabulary counts; the
    token stream then left-joins the counts and ``ln(c / total)``.

    Returns ``(id_col, n_tokens, surprisal)``.
    """
    grams = df.select(F.col(id_col), F.inline(_ngrams(tokens(text_col), 1)))
    counts = _count(grams, ["w1"], "cnt")
    seen = F.col("cnt") >= LM_MIN_COUNT
    # one job for both driver-side inputs (collect_set skips the nulls)
    row = counts.agg(
        F.sum("cnt").alias("t"), exact_ints_agg(F.when(seen, F.col("cnt"))).alias("v")
    ).collect()[0]
    total = int(row["t"])
    scored = with_ln(
        grams.join(counts.filter(seen), "w1", "left"), "cnt", guarded(row["v"]), "_ln", total
    )
    lnp = F.coalesce(F.col("_ln"), F.lit(math.log(LM_OOV_WEIGHT / total)))
    return _doc_mean(scored, id_col, -lnp, "n_tokens", "surprisal")


def top_ngrams(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level top-``TOP_NGRAM_K`` word n-grams for each n in
    ``TOP_NGRAM_NS`` — the vocabulary / collocation profile of a training
    corpus (and the building block for contamination and boilerplate
    reports).

    One scan explodes the grams of every n together and one hash count
    keys on ``(n, ngram)`` (the shuffle carries partial counts only; the
    table has one consumer, so it is not pinned), then a per-n top-k
    window over the counted result.  Ties break on the gram text.
    Returns ``(n, ngram, cnt, rank)``.
    """
    from pyspark.sql.window import Window

    def as_text(n):
        # a one-argument lambda: F.transform passes the index to a second
        return lambda g: F.struct(
            F.lit(n).alias("n"), F.array_join(F.array(*[g[w] for w in _W[:n]]), " ").alias("ngram")
        )

    toks = tokens(text_col)
    grams = F.concat(*[F.transform(_ngrams(toks, n), as_text(n)) for n in TOP_NGRAM_NS])
    counted = df.select(F.inline(grams)).groupBy("n", "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("n").orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_NGRAM_K)
        .select("n", "ngram", "cnt", "rank")
    )


def bigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Bigram language-model surprisal per document: mean
    ``-ln p(w2 | w1)`` under the corpus's own bigram distribution
    (conditional MLE ``c(w1,w2)/c(w1,·)``), bigrams seen fewer than
    ``LM_MIN_COUNT`` times scored as OOV at
    ``LM_OOV_WEIGHT / total_bigrams``.  One order sharper than
    :func:`unigram_logprob` at spotting word-salad (every token common,
    transitions impossible).

    One count table; ``c(w1,·)`` and the total are exact integer sums of
    it, and both logs take integer arguments (``ln c(w1,w2) -
    ln c(w1,·)``).

    Returns ``(id_col, n_bigrams, bi_surprisal)`` for docs with >= 1
    bigram.
    """
    grams = df.select(F.col(id_col), F.inline(_ngrams(tokens(text_col), 2)))
    cb = _count(grams, ["w1", "w2"], "cnt")
    cw = cb.groupBy("w1").agg(F.sum("cnt").cast("bigint").alias("ctx"))
    vocab = cb.filter(F.col("cnt") >= LM_MIN_COUNT)
    total = int(cb.agg(F.sum("cnt")).collect()[0][0])
    vals = exact_ints((vocab, "cnt"), (cw, "ctx"))
    scored = grams.join(cw, "w1").join(vocab, ["w1", "w2"], "left")
    scored = with_ln(with_ln(scored, "cnt", vals, "_lncnt"), "ctx", vals, "_lnctx")
    lnp = F.coalesce(
        F.col("_lncnt") - F.col("_lnctx"), F.lit(math.log(LM_OOV_WEIGHT) - math.log(total))
    )
    return _doc_mean(scored, id_col, -lnp, "n_bigrams", "bi_surprisal")


def token_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Shannon entropy of each document's token distribution:
    ``H = ln(n) - (1/n) * sum_c c*ln(c)`` over per-doc term counts ``c``
    (nats).  Low entropy = repetitive/templated text, high = diverse
    vocabulary — with :func:`unigram_logprob` (corpus-relative) this is
    the doc-local half of the cheap LM-quality pair.

    One ``(doc, term)`` count table; ``ln`` is taken at the integer
    counts and lengths (one build-time collect for both), and the
    per-doc sum folds in term order.

    Returns ``(id_col, n_tokens, entropy)``.
    """
    terms = df.select(F.col(id_col), F.inline(_ngrams(tokens(text_col), 1)))
    tc = _count(terms, [id_col, "w1"], "c")
    lengths = tc.groupBy(id_col).agg(F.sum("c").alias("n"))
    vals = exact_ints((tc, "c"), (lengths, "n"))
    tc = with_ln(tc, "c", vals, "_lnc").withColumn("_cl", F.col("c").cast("double") * F.col("_lnc"))
    per_doc = tc.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"), _ordered_sum("w1", "_cl").alias("_s")
    )
    return with_ln(per_doc, "n_tokens", vals, "_lnn").select(
        id_col, "n_tokens", (F.col("_lnn") - F.col("_s") / F.col("n_tokens")).alias("entropy")
    )


def stupid_backoff_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """Stupid Backoff trigram LM surprisal (Brants et al. 2007, "Large
    Language Models in Machine Translation" — THE distributed n-gram LM:
    no discounting state, just count ratios with a 0.4 backoff factor,
    which is what made it MapReduce-trainable on trillions of tokens):

        S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)          if the trigram occurs
                        0.4 * c(w2w3)/c(w2)        else if the bigram does
                        0.4^2 * c(w3)/N            otherwise

    Returns ``(id_col, n_scored, sb_surprisal)`` — mean ``-ln S`` over
    positions 3..n (docs shorter than 3 tokens produce no row).

    Three count tables over ``train`` (default ``df``), five left joins
    back to the trigram stream, ``ln`` at the integer counts of all three
    tables (one build-time collect) and ``ln(0.4)`` as a libm literal
    (DuckDB's ``ln`` agrees on the same double).
    """
    toks = tokens(text_col)
    train = train if train is not None else df
    uni, bi, tri = (
        _count(train.select(F.inline(_ngrams(toks, n))), list(_W[:n]), out)
        for n, out in ((1, "cu"), (2, "cb"), (3, "c3"))
    )
    total = int(uni.agg(F.sum("cu")).collect()[0][0])
    scored = (
        df.select(F.col(id_col), F.inline(_ngrams(toks, 3)))
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(bi.select("w1", "w2", F.col("cb").alias("cb12")), ["w1", "w2"], "left")
        .join(
            bi.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("cb").alias("cb23")),
            ["w2", "w3"],
            "left",
        )
        .join(uni.select(F.col("w1").alias("w2"), F.col("cu").alias("cu2")), ["w2"], "left")
        .join(uni.select(F.col("w1").alias("w3"), F.col("cu").alias("cu3")), ["w3"], "left")
    )
    vals = exact_ints((tri, "c3"), (bi, "cb"), (uni, "cu"))
    for src in ("c3", "cb12", "cb23", "cu2", "cu3"):
        scored = with_ln(scored, src, vals, "ln_" + src)
    ln_backoff = math.log(0.4)
    lns = (
        F.when(F.col("c3").isNotNull(), F.col("ln_c3") - F.col("ln_cb12"))
        .when(
            F.col("cb23").isNotNull(),
            F.lit(ln_backoff) + F.col("ln_cb23") - F.col("ln_cu2"),
        )
        .otherwise(
            # OOV unigram (unseen in train): pseudo-count 1 => ln 1 = 0
            F.lit(ln_backoff) + F.lit(ln_backoff)
            + F.coalesce(F.col("ln_cu3"), F.lit(0.0)) - F.lit(math.log(total))
        )
    )
    # every term is <= 0 and none is -0.0, so summing the negated terms
    # equals negating the sum bit for bit (round-to-nearest is symmetric)
    return _doc_mean(scored, id_col, -lns, "n_scored", "sb_surprisal")


def bigram_pmi(df: DataFrame, text_col: str = "text", min_count: int = 5) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the classic
    collocation detector (Church & Hanks 1990), used on training corpora
    to find multi-word expressions worth protecting from tokenizer
    splits and to profile boilerplate.

    ``pmi(a, b) = ln p(a,b) - ln p(a) - ln p(b)`` decomposes into lns of
    INTEGER counts: ``ln c_ab - ln N_big - ln c_a - ln c_b + 2 ln N_uni``,
    so the module's exact-log contract applies unchanged.  The PMI sum is
    left-associated single IEEE ops, so both engines and both log paths
    agree bitwise given equal ln inputs.

    Two count tables (bigram + unigram; the totals are their integer
    sums) and two unigram joins for c_a/c_b.  Returns
    ``(w1, w2, c_ab, pmi)`` for bigram types with ``c_ab >= min_count``.
    """
    toks = tokens(text_col)
    uni = _count(df.select(F.inline(_ngrams(toks, 1))), ["w1"], "c")
    pairs = _count(df.select(F.inline(_ngrams(toks, 2))), ["w1", "w2"], "c_ab")
    ln_nu = math.log(int(uni.agg(F.sum("c")).collect()[0][0]))
    ln_nb = math.log(int(pairs.agg(F.sum("c_ab")).collect()[0][0]))
    big = pairs.filter(F.col("c_ab") >= min_count)
    vals = exact_ints((big, "c_ab"), (uni, "c"))
    joined = big.join(uni.select("w1", F.col("c").alias("_ca")), "w1").join(
        uni.select(F.col("w1").alias("w2"), F.col("c").alias("_cb")), "w2"
    )
    for src, dst in (("c_ab", "_ln_ab"), ("_ca", "_ln_a"), ("_cb", "_ln_b")):
        joined = with_ln(joined, src, vals, dst)
    ln_ab, ln_a, ln_b = F.col("_ln_ab"), F.col("_ln_a"), F.col("_ln_b")
    pmi = ((((ln_ab - F.lit(ln_nb)) - ln_a) - ln_b) + F.lit(ln_nu)) + F.lit(ln_nu)
    return joined.select("w1", "w2", "c_ab", pmi.alias("pmi"))


def hash_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    salt: str = "qual",
    bias: float = 0.0,
) -> DataFrame:
    """FastText-style hashed linear text classifier scoring — the shape of
    every modern pretraining quality filter (CCNet/DCLM/FineWeb-class):
    each token hashes into a weight, the doc's score is the sum plus a
    bias, and the label is the margin's sign.  Here the weight table is
    the DETERMINISTIC md5 surrogate the engine uses wherever a learned
    artifact would plug in (cf. the submission pipeline's stand-in
    scorer): w(t) = (int(md5(t || ':salt')[:2], 16) - 128) / 1024 — an
    exact k/1024 rational, so arithmetic is engine-stable.  Swapping in
    real trained weights = replacing the hash expression with a
    broadcast map join, same plan shape.

    Entirely in-array and shuffle-free: one left-fold (``F.aggregate``)
    per document, no explode, no join, no Python — the per-doc cost is
    O(tokens) inside whole-stage codegen, and the margin is
    partitioning-invariant because the fold order is the token order.

    Returns ``(id cols..., n_tokens, margin, keep)``.
    """
    toks = tokens(text_col)
    w = (
        "cast(cast(instr('0123456789abcdef', substr(md5(concat(t, ':%s')), 1, 1)) - 1 "
        "as bigint) * 16 + cast(instr('0123456789abcdef', substr(md5(concat(t, ':%s')), 2, 1)) - 1 "
        "as bigint) - 128 as double) / cast(1024 as double)" % (salt, salt)
    )
    margin = F.expr(
        f"aggregate(transform(split({text_col}, ' '), t -> {w}), "
        f"cast({bias!r} as double), (acc, x) -> acc + x)"
    )
    return df.withColumn("n_tokens", F.size(toks).cast("bigint")).withColumn(
        "margin", margin
    ).withColumn("keep", F.col("margin") > F.lit(0.0))


def canonicalize_url(url) -> Column:
    """Canonical form of a URL for web-corpus dedup (the RefinedWeb/CC
    pipeline normalization): lowercase scheme and host, strip a leading
    ``www.``, strip the scheme's default port, drop the fragment, drop
    tracking parameters (``utm_*``/``fbclid``/``gclid``), sort the
    surviving query parameters, and collapse trailing path slashes.
    Pure codegen string/array expressions — a narrow map, no shuffle —
    and every step is dialect-shared with the SQL oracle (RE2-safe
    patterns, binary-collation sorts)."""
    u = F.col(url) if isinstance(url, str) else url
    u1 = F.substring_index(u, "#", 1)
    scheme = F.lower(F.regexp_extract(u1, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u1, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.when(
        hostport.startswith("www."), hostport.substr(F.lit(5), F.length(hostport))
    ).otherwise(hostport)
    host = (
        F.when((scheme == "https") & host.endswith(":443"),
               F.regexp_replace(host, r":443$", ""))
        .when((scheme == "http") & host.endswith(":80"),
              F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    pathq = F.regexp_replace(u1, r"^[^:/?#]+://[^/?#]*", "")
    path = F.substring_index(pathq, "?", 1)
    cpath = F.regexp_replace(path, r"/+$", "")
    cpath = F.when(cpath == "", F.lit("/")).otherwise(cpath)
    query = F.when(
        pathq.contains("?"),
        pathq.substr(F.instr(pathq, "?") + F.lit(1), F.length(pathq)),
    ).otherwise(F.lit(""))
    def _keep(p):
        # tracking params match on the lowercased NAME (the part before
        # '='), so UTM_SOURCE=… and a bare fbclid are stripped too
        name = F.lower(F.substring_index(p, "=", 1))
        return (
            (p != "")
            & ~name.startswith("utm_")
            & (name != "fbclid")
            & (name != "gclid")
        )

    params = F.filter(F.split(query, "&"), _keep)
    cq = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, cpath,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")),
    )


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Canonical-URL dedup: group the corpus by :func:`canonicalize_url`,
    keep the smallest id per canonical form.  ONE hash aggregate (the
    canonicalization is map-side); returns
    ``(url_canon, id kept, n_dupes)``."""
    return (
        df.withColumn("url_canon", canonicalize_url(url_col))
        .groupBy("url_canon")
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


_SENT_SEP = "\u0001"  # boundary marker: never occurs in document text


def split_sentences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation: split after ``[.!?]`` followed by a space —
    the unit-of-text primitive under chunkers, decontamination spans,
    and sentence-level dedup.

    RE2-safe boundary detection (portable to engines without lookbehind):
    the boundary is REWRITTEN to a control character (``punct + ' '`` ->
    ``punct + \\x01``) and the string is split on it, which keeps the
    terminator attached to its sentence.  Non-overlapping leftmost regex
    scan + full-materialize-between-passes semantics are identical in
    Java regex and RE2, so the segmentation is bitwise cross-engine.

    Shuffle-free: regexp_replace + split + posexplode, all inside
    whole-stage codegen; output order is inherited from the scan.
    Returns ``(id_col, sent_idx, sentence)`` with 0-based ``sent_idx``
    enumerated BEFORE the empty-segment filter (index gaps mark dropped
    empties identically in both engines).
    """
    marked = F.regexp_replace(F.col(text_col), r"([.!?]) ", "$1" + _SENT_SEP)
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(marked, _SENT_SEP)).alias("sent_idx", "sentence"),
    ).filter(F.length("sentence") > 0)


def sentence_dedup(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    max_count: int = 1,
) -> DataFrame:
    """Sentence-level duplicate removal (RefinedWeb/C4 lineage): segment
    every document with :func:`split_sentences`, drop each sentence whose
    exact text occurs more than ``max_count`` times in the WHOLE corpus
    (boilerplate, legal footers, navigation chrome), and reassemble the
    survivors in original order.  The sentence-boundary sibling of
    :func:`segment_dedup` (which uses fixed token windows) — boundaries
    follow punctuation, so a shared sentence is caught regardless of how
    token windows happen to align around it.

    Returns ``(doc_col, text_dedup, n_sentences_kept)``; documents whose
    every sentence was boilerplate disappear.

    Scale: same shape as ``segment_dedup`` — narrow segmentation fan-out,
    ONE shuffle for the global occurrence count (window partitioned by
    sentence text; pre-hash with md5 at 100 TB to shrink shuffle keys),
    one groupBy on the doc id to reassemble.
    """
    from pyspark.sql.window import Window

    sents = split_sentences(df, id_col=doc_col, text_col=text_col)
    kept = sents.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("sentence"))
    ).filter(F.col("_n") <= max_count)
    ordered = F.array_sort(F.collect_list(F.struct("sent_idx", "sentence")))
    return kept.groupBy(doc_col).agg(
        F.array_join(F.transform(ordered, lambda s: s["sentence"]), " ").alias(
            "text_dedup"
        ),
        F.count(F.lit(1)).alias("n_sentences_kept"),
    )
