"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

These extend the reference's tabular feature engineering to the document
domain (north-star extensions; BASELINE.json).  Everything is built from
JVM-side ``pyspark.sql.functions`` string/array expressions — no Python
UDFs.  The per-document features (quality, langid, fingerprint, token
count, repetition, chunking, PII scrub, HTML strip) stay inside
whole-stage codegen as a narrow map over the corpus (100 TB = one scan,
no shuffle).  The corpus-statistics family (TF-IDF, BM25, the LM
scorers) additionally pays one hash aggregation per count table — each
pinned once at its fan-out (lazy ``localCheckpoint``).  Their logarithms
take integer arguments and come from the exact-libm tables of
``functions.stats`` (bitwise equal to the DuckDB oracle's ``ln``) while
the distinct arguments stay under ``stats.EXACT_LN_GUARD``; past it the
scorers and :func:`tfidf` switch to in-plan ``F.log``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.stats import exact_ints, exact_ints_agg, guarded, join_exact

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


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    oov_weight: float = 0.5,
) -> DataFrame:
    """Unigram language-model surprisal per document: mean
    ``-ln p(token)`` under the corpus's own unigram distribution, with
    tokens seen fewer than ``min_count`` times scored as OOV at
    ``oov_weight / total``.  High surprisal = rare-word soup / junk; low =
    repetitive boilerplate — the cheap LM-based quality filter between
    heuristics and a real perplexity model.

    Two corpus passes: (1) token counts (explode -> hash agg, one shuffle
    on token); (2) posexplode -> broadcast-join the per-count ``ln``
    lookup (an exact-libm table over the distinct count values, same
    contract as :func:`tfidf`) -> reassemble per doc.  The per-doc float
    sum folds oldest->newest over a position-sorted array, so it is
    bitwise-deterministic across partitionings and engines.  Past
    ``EXACT_LN_GUARD`` distinct count values the ``ln`` is in-plan JVM
    ``F.log`` (no driver materialization, tolerant-equal, tested).

    Returns ``(id_col, n_tokens, surprisal)``.
    """
    import math

    toks = F.split(F.col(text_col), " ")
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "term")
    )
    # counts feeds the vocab collect, the corpus-total aggregation, and
    # the scoring join — pin once (vocab-scale) instead of replaying the
    # posexplode per reference
    counts = (
        pos.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    vocab = counts.filter(F.col("cnt") >= min_count)
    # ONE build-time job for both driver-side inputs: the corpus total
    # and the distinct vocab count values (collect_set skips the
    # when()-nulled sub-min_count rows)
    row = counts.agg(
        F.sum("cnt").alias("t"),
        exact_ints_agg(F.when(F.col("cnt") >= min_count, F.col("cnt"))).alias("vals"),
    ).collect()[0]
    total = int(row["t"])
    cnt_values = guarded(row["vals"])
    ln_oov = math.log(oov_weight / total)
    scored = pos.join(vocab, "term", "left")
    if cnt_values is not None:
        scored = join_exact(
            scored, "cnt", cnt_values, lambda c: math.log(c / total), "_lnp", how="left"
        )
        lnp = F.coalesce(F.col("_lnp"), F.lit(ln_oov))
    else:
        lnp = F.coalesce(F.log(F.col("cnt") / F.lit(float(total))), F.lit(ln_oov))
    scored = scored.select(id_col, "pos", lnp.alias("_lnp"))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "_lnp"))), lambda s: -s["_lnp"]
        ).alias("_nl"),
    )
    fold = F.aggregate(
        F.slice(F.col("_nl"), 2, F.size(F.col("_nl"))),
        F.element_at(F.col("_nl"), 1),
        lambda acc, x: acc + x,
    )
    return per_doc.select(
        id_col, "n_tokens", (fold / F.col("n_tokens")).alias("surprisal")
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n_values: tuple[int, ...] = (1, 2, 3),
    k: int = 20,
) -> DataFrame:
    """Corpus-level top-``k`` word n-grams per n — the vocabulary /
    collocation profile of a training corpus (and the building block for
    contamination and boilerplate reports).

    One explode + hash count per n (shuffle carries (ngram, partial
    count) pairs only), unioned, then a per-n top-k window over the
    counted (tiny) result.  Ties break on the gram text for determinism.
    Returns ``(n, ngram, cnt, rank)``.
    """
    from pyspark.sql.window import Window

    def _gram_fn(width: int):
        # single-arg lambda on purpose: F.transform dispatches on lambda
        # arity, and a two-arg lambda (even with a default) is called as
        # (element, array_index) — a default-arg capture of ``n`` would
        # silently receive the index instead
        toks = F.split(F.col(text_col), " ")
        return lambda i: F.array_join(F.slice(toks, i, width), " ")

    parts = []
    for n in n_values:
        toks = F.split(F.col(text_col), " ")
        cnt_grams = F.size(toks) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt_grams, F.lit(1))),
            _gram_fn(n),
        )
        parts.append(
            df.filter(F.size(toks) >= n).select(
                F.lit(n).alias("n"), F.explode(grams).alias("ngram")
            )
        )
    allg = parts[0]
    for p in parts[1:]:
        allg = allg.unionByName(p)
    counted = allg.groupBy("n", "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("n").orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("n", "ngram", "cnt", "rank")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    oov_weight: float = 0.5,
) -> DataFrame:
    """Bigram language-model surprisal per document: mean
    ``-ln p(w2 | w1)`` under the corpus's own bigram distribution
    (conditional MLE ``c(w1,w2)/c(w1,·)``), bigrams seen fewer than
    ``min_count`` times scored as OOV at ``oov_weight/total_bigrams``.
    One order sharper than :func:`unigram_logprob` at spotting
    word-salad (every token common, transitions impossible).

    Same determinism contract: both logs take INTEGER arguments
    (``ln c(w1,w2) - ln c(w1,·)``), served from exact-libm tables over
    the distinct count values (in-plan ``F.log`` past
    ``EXACT_LN_GUARD``, as in :func:`unigram_logprob`); the per-doc fold
    runs over the position-sorted array.  Bigram assembly is a
    shuffle-free array transform (no window/lead pass over the corpus);
    the two count aggregations are the only shuffles.

    Returns ``(id_col, n_bigrams, bi_surprisal)`` for docs with >= 1
    bigram.
    """
    import math

    toks = F.split(F.col(text_col), " ")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    big = (
        df.filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("_p"))
        .select(id_col, F.col("_p.pos").alias("pos"), F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    # ONE corpus aggregation: cw (occurrences per w1) and the corpus
    # total both derive from the pinned (w1, w2) counts by exact integer
    # sums — without the pin, each count table, distinct-collect, and
    # the final join replayed the full bigram explode independently.
    cb = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # cw feeds the ctx-value collect AND the scoring join — pin it so
    # the cb -> cw aggregation runs once (the ctx collect materializes
    # the pinned blocks; the join reads them)
    cw = (
        cb.groupBy("w1")
        .agg(F.sum("cnt").cast("bigint").alias("ctx"))
        .localCheckpoint(eager=False)
    )
    vocab = cb.filter(F.col("cnt") >= min_count)
    # ONE job over the pinned cb for total + distinct vocab cnt values
    # (same merged-collect idiom as unigram_logprob)
    row = cb.agg(
        F.sum("cnt").alias("t"),
        exact_ints_agg(F.when(F.col("cnt") >= min_count, F.col("cnt"))).alias("vals"),
    ).collect()[0]
    total = int(row["t"])
    ln_oov = math.log(oov_weight) - math.log(total)
    cnt_vals = guarded(row["vals"])
    ctx_vals = exact_ints((cw, "ctx")) if cnt_vals is not None else None
    scored = big.join(cw, "w1").join(vocab, ["w1", "w2"], "left")
    if cnt_vals is not None and ctx_vals is not None:
        scored = join_exact(scored, "cnt", cnt_vals, math.log, "_lncnt", how="left")
        scored = join_exact(scored, "ctx", ctx_vals, math.log, "_lnctx", how="left")
        lnp = F.coalesce(F.col("_lncnt") - F.col("_lnctx"), F.lit(ln_oov))
    else:
        # in-plan JVM log (the 100 TB path — no driver ln tables)
        lnp = F.coalesce(
            F.log(F.col("cnt").cast("double")) - F.log(F.col("ctx").cast("double")),
            F.lit(ln_oov),
        )
    scored = scored.select(id_col, "pos", lnp.alias("_lnp"))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "_lnp"))), lambda s: -s["_lnp"]
        ).alias("_nl"),
    )
    fold = F.aggregate(
        F.slice(F.col("_nl"), 2, F.size(F.col("_nl"))),
        F.element_at(F.col("_nl"), 1),
        lambda acc, x: acc + x,
    )
    return per_doc.select(
        id_col,
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        (fold / F.col("n_bigrams")).alias("bi_surprisal"),
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shannon entropy of each document's token distribution:
    ``H = ln(n) - (1/n) * sum_c c*ln(c)`` over per-doc term counts ``c``
    (nats).  Low entropy = repetitive/templated text, high = diverse
    vocabulary — with :func:`unigram_logprob` (corpus-relative) this is
    the doc-local half of the cheap LM-quality pair.

    Bitwise cross-engine by the module's established contract: ``ln`` is
    evaluated only at INTEGER arguments (exact-libm tables over the
    distinct counts/lengths; in-plan ``F.log`` past ``EXACT_LN_GUARD``
    of them), and the per-doc sum folds in term order over a sorted
    array.  One shuffle on ``(doc, term)``, one on ``doc``.

    Returns ``(id_col, n_tokens, entropy)``.
    """
    import math

    toks = F.split(F.col(text_col), " ")
    # tc feeds the distinct-count collect and the per-doc fold; the
    # per-doc aggregate additionally feeds the n_tokens collect — pin
    # both so the exact path's extra collects reuse, not replay
    tc = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    c_values = exact_ints((tc, "c"))
    if c_values is not None:
        tc = join_exact(tc, "c", c_values, lambda c: float(c) * math.log(c), "_cl")
    else:
        tc = tc.withColumn("_cl", F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    per_doc = tc.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(term, _cl))),"
            " x -> x._cl), cast(0 as double), (a, b) -> a + b)"
        ).alias("_s"),
    ).localCheckpoint(eager=False)
    n_values = exact_ints((per_doc, "n_tokens")) if c_values is not None else None
    if n_values is not None:
        per_doc = join_exact(per_doc, "n_tokens", n_values, math.log, "_lnn")
        lnn = F.col("_lnn")
    else:
        lnn = F.log(F.col("n_tokens").cast("double"))
    return per_doc.select(
        id_col,
        "n_tokens",
        (lnn - F.col("_s") / F.col("n_tokens")).alias("entropy"),
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

    Distributed shape: three count tables (one hash agg each), four
    equi-joins back to the position stream, then the module's bitwise
    contract — ``ln`` ONLY at integer arguments via an exact-libm table
    over the distinct count values of all three tables (in-plan
    ``F.log`` past ``EXACT_LN_GUARD`` of them, as in
    :func:`unigram_logprob`), ``ln(0.4)`` as a python-libm literal
    (DuckDB's ln agrees on the same double), and a position-ordered fold
    per document.
    """
    import math

    toks = F.split(F.col(text_col), " ")
    train = train if train is not None else df
    tbase = train.select(toks.alias("_t"), F.size(toks).alias("_n"))
    base = df.select(F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
    pos = (
        base.filter(F.col("_n") >= 3)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(3), F.col("_n")),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.element_at("_t", i - 2).alias("w1"),
                        F.element_at("_t", i - 1).alias("w2"),
                        F.element_at("_t", i).alias("w3"),
                    ),
                )
            ).alias("_g"),
        )
        .select(id_col, "_g.pos", "_g.w1", "_g.w2", "_g.w3")
    )
    # each count table is referenced twice (ln-value collect + scoring
    # join) and would replay its corpus explode per reference; pin them
    # (vocab-scale) and derive the token total from uni by integer sum
    words = train.select(F.explode(toks).alias("w"))
    uni = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=False)
    )
    total = int(uni.agg(F.sum("cu")).collect()[0][0])
    bi = (
        tbase.filter(F.col("_n") >= 2)  # sequence(2, 1) would DESCEND
        .select(F.explode(F.transform(F.sequence(F.lit(2), F.col("_n")), lambda i: F.struct(
            F.element_at("_t", i - 1).alias("w1"), F.element_at("_t", i).alias("w2")
        ))).alias("_b"))
        .groupBy("_b.w1", "_b.w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)
    )
    tri = (
        tbase.filter(F.col("_n") >= 3)
        .select(F.explode(F.transform(F.sequence(F.lit(3), F.col("_n")), lambda i: F.struct(
            F.element_at("_t", i - 2).alias("w1"),
            F.element_at("_t", i - 1).alias("w2"),
            F.element_at("_t", i).alias("w3"),
        ))).alias("_r"))
        .groupBy("_r.w1", "_r.w2", "_r.w3")
        .agg(F.count(F.lit(1)).alias("c3"))
        .localCheckpoint(eager=False)
    )

    scored = (
        pos.join(tri, ["w1", "w2", "w3"], "left")
        .join(bi.select(F.col("w1"), F.col("w2"), F.col("cb").alias("cb12")), ["w1", "w2"], "left")
        .join(
            bi.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("cb").alias("cb23")),
            ["w2", "w3"],
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), ["w2"], "left")
        .join(uni.select(F.col("w").alias("w3"), F.col("cu").alias("cu3")), ["w3"], "left")
    )
    # integer-argument libm ln over the distinct count values of all
    # three tables, collected in one job — or, past the guard, fully
    # in-plan JVM log with no driver materialization.
    vals = exact_ints((tri, "c3"), (bi, "cb"), (uni, "cu"))
    if vals is not None:

        def with_ln(frame, src, dst):
            return join_exact(frame, src, vals, math.log, dst, how="left")

    else:

        def with_ln(frame, src, dst):
            return frame.withColumn(dst, F.log(F.col(src).cast("double")))

    for src, dst in (("c3", "ln_c3"), ("cb12", "ln_cb12"), ("cb23", "ln_cb23"),
                     ("cu2", "ln_cu2"), ("cu3", "ln_cu3")):
        scored = with_ln(scored, src, dst)
    ln_backoff = math.log(0.4)
    ln_total = math.log(total)
    lns = (
        F.when(F.col("c3").isNotNull(), F.col("ln_c3") - F.col("ln_cb12"))
        .when(
            F.col("cb23").isNotNull(),
            F.lit(ln_backoff) + F.col("ln_cb23") - F.col("ln_cu2"),
        )
        .otherwise(
            # OOV unigram (unseen in train): pseudo-count 1 => ln 1 = 0
            F.lit(ln_backoff) + F.lit(ln_backoff)
            + F.coalesce(F.col("ln_cu3"), F.lit(0.0)) - F.lit(ln_total)
        )
    )
    per = scored.select(id_col, "pos", lns.alias("_lns"))
    ordered = F.array_sort(F.collect_list(F.struct("pos", "_lns")))
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        (
            -F.expr(
                "aggregate(transform(array_sort(collect_list(struct(pos, _lns))),"
                " x -> x._lns), cast(0 as double), (a, b) -> a + b)"
            )
            / F.count(F.lit(1))
        ).alias("sb_surprisal"),
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the classic
    collocation detector (Church & Hanks 1990), used on training corpora
    to find multi-word expressions worth protecting from tokenizer
    splits and to profile boilerplate.

    ``pmi(a, b) = ln p(a,b) - ln p(a) - ln p(b)`` decomposes into lns of
    INTEGER counts: ``ln c_ab - ln N_big - ln c_a - ln c_b + 2 ln N_uni``
    — so the engine's exact-log contract applies unchanged: under
    ``EXACT_LN_GUARD`` distinct count values, an exact-libm ``ln`` table
    (bitwise equal to DuckDB's glibc ``ln``); beyond it,
    in-plan JVM ``F.log`` (the 100 TB path, no driver materialization).
    The PMI sum is left-associated single IEEE ops, so both engines and
    both paths agree bitwise given equal ln inputs.

    Plan shape: one scan -> in-array ``zip_with`` bigram pairing (no
    per-token self-join) -> two hash aggregates (bigram + unigram
    counts) -> two count-table joins for c_a/c_b.  Scalar totals are
    single-row collects.  Returns ``(w1, w2, c_ab, pmi)`` for bigram
    types with ``c_ab >= min_count``.
    """
    import math

    toks = F.split(F.col(text_col), " ")
    d = df.select(toks.alias("_tk"))
    tok = d.select(F.explode("_tk").alias("w"))
    # unigram counts feed the totals aggregate and both c_a/c_b joins —
    # pin once instead of replaying the explode per consumer
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    pairs = d.filter(F.size("_tk") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(_tk, 1, size(_tk) - 1), slice(_tk, 2, size(_tk) - 1),"
                " (a, b) -> struct(a as w1, b as w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    n_uni = int(uni.agg(F.sum("c")).collect()[0][0])
    # total bigrams = sum(max(len-1, 0)): a narrow size projection, not a
    # second full zip_with/explode pass over the corpus
    n_big = int(
        d.agg(F.sum(F.greatest(F.size("_tk") - 1, F.lit(0)))).collect()[0][0]
    )
    # the bigram aggregate feeds both the guard's distinct-count collect
    # and the returned plan — pin it once (the uni treatment) or the
    # corpus-scale explode+agg executes twice per invocation
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
        .localCheckpoint(eager=False)
    )

    cnt_vals = exact_ints((big, "c_ab"), (uni, "c"))
    joined = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "_ca"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "_cb"), "w2")
    )
    if cnt_vals is not None:
        for src, dst in (("c_ab", "_ln_ab"), ("_ca", "_ln_a"), ("_cb", "_ln_b")):
            joined = join_exact(joined, src, cnt_vals, math.log, dst)
        ln_ab, ln_a, ln_b = F.col("_ln_ab"), F.col("_ln_a"), F.col("_ln_b")
    else:
        ln_ab = F.log(F.col("c_ab").cast("double"))
        ln_a = F.log(F.col("_ca").cast("double"))
        ln_b = F.log(F.col("_cb").cast("double"))
    ln_nu, ln_nb = math.log(n_uni), math.log(n_big)
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
