"""Filter operators F1-F5 (SURVEY §2.3).

Predicates stay declarative so Catalyst pushes them into the parquet scan
(check `.explain`: PushedFilters).  The two non-trivial ones — frequency
filter and positional trim — are window/semijoin shapes that cost exactly
one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import small_frame


def blacklist(df: DataFrame, col: str, *values) -> DataFrame:
    """F2: drop rows whose ``col`` is in ``values``
    (/root/reference/run.py:201 — MCC 6012).

    NULL ``col`` rows are KEPT: the reference's ``~df[col].isin(values)``
    evaluates NaN-isin to False, so negation keeps the row — whereas a
    bare Spark ``~isin`` yields NULL and the filter would silently drop
    it.  Only listed values are excluded."""
    return df.filter(F.col(col).isNull() | ~F.col(col).isin(*values))


def frequency_filter(df: DataFrame, keys: list[str], min_count: int) -> DataFrame:
    """F3: keep rows whose (keys) group appears more than ``min_count``
    times (/root/reference/run.py:41-44).

    Implemented as a count window over the keys — one shuffle, no join,
    and AQE handles skewed keys.  (A groupBy+broadcast-semijoin variant is
    equivalent; the window form reuses the same shuffle when downstream
    ops partition by the same keys.)
    """
    w = Window.partitionBy(*keys)
    cnt = F.count(F.lit(1)).over(w)
    return df.withColumn("_grp_cnt", cnt).filter(F.col("_grp_cnt") > min_count).drop("_grp_cnt")


def positional_trim(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    n_head: int = 20,
    n_tail: int = 20,
) -> DataFrame:
    """F4/W5: drop the first ``n_head`` and last ``n_tail`` rows of every
    group in (order_cols) order (/root/reference/run.py:196-198 —
    ``.iloc[20:-20]`` per user; groups with <= n_head+n_tail rows vanish).

    One shuffle AND one sort: the descending rank is derived as
    ``cnt - rn_asc + 1`` from the ascending row_number plus an unordered
    count window over the same partition (Catalyst reuses the exchange;
    a second ``row_number`` over the reversed order would add a second
    sort of every group).
    """
    asc = Window.partitionBy(group_col).orderBy(*[F.col(c).asc() for c in order_cols])
    whole = Window.partitionBy(group_col)
    return (
        df.withColumn("_rn_a", F.row_number().over(asc))
        .withColumn("_rn_d", F.count(F.lit(1)).over(whole) - F.col("_rn_a") + 1)
        .filter((F.col("_rn_a") > n_head) & (F.col("_rn_d") > n_tail))
        .drop("_rn_a", "_rn_d")
    )


def mask_positive(col: str):
    """F5: ``m[m > 0]`` — NULL out non-positive cells so aggregates skip
    them (/root/reference/run.py:209-218)."""
    c = F.col(col)
    return F.when(c > 0, c)


def deterministic_mix(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    denom: int = 100,
) -> DataFrame:
    """Weighted corpus mixing with reproducible, engine-portable sampling:
    keep a row iff ``id % denom < rate*denom`` for its source's rate;
    sources absent from ``rates`` are dropped.

    The id-modulo selector makes the sample a pure deterministic predicate
    — re-runnable, pushdown-friendly, identical on any engine or cluster
    layout (unlike ``sample()``/``sampleBy()``, whose draws depend on
    partitioning).  Use a hash of a stable key as ``id_col`` when raw ids
    correlate with content.
    """
    thr = F.lit(0)
    for src, rate in rates.items():
        thr = F.when(F.col(source_col) == src, int(round(rate * denom))).otherwise(thr)
    return df.filter(F.pmod(F.col(id_col), F.lit(denom)) < thr)


def modulo_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    denom: int = 100,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket ``id % denom``
    into contiguous ranges sized by ``weights`` (insertion order).

    Same engine-portability rationale as ``deterministic_mix``: the split
    is a pure predicate of the row's id — stable under re-runs, engine
    changes, and any cluster layout, and Catalyst can push a single-split
    selection down to the scan.  ``sum(weights)`` must be 1 (every row
    gets a split).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = F.pmod(F.col(id_col), F.lit(denom))
    expr = None
    lo = 0
    names = list(weights)
    # the LAST split is a catch-all: per-weight rounding can undershoot
    # denom (e.g. three 1/3 weights at denom=100 -> 33+33+33), and a
    # bucket<hi test would leave the residual range split=NULL — rows
    # silently vanishing from every downstream split filter
    for name in names[:-1]:
        hi = lo + int(round(weights[name] * denom))
        cond = bucket < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): rebalance skewed
    categories (e.g. downsample the dominant language of a pretraining
    corpus) in one scan-side filter — no shuffle, no count pass; seeded so
    reruns draw the same rows."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def cap_per_group(
    df: DataFrame,
    key_col: str,
    n: int,
    id_col: str,
) -> DataFrame:
    """Deterministic per-group downsample: keep at most ``n`` rows per
    ``key_col`` (e.g. cap any one source/domain's share of a training
    corpus), selected by hash rank so the choice is content-independent,
    reproducible, and identical on any engine or cluster layout.

    The rank<=n filter triggers Catalyst's WindowGroupLimit rewrite:
    every task keeps an n-row heap per group BEFORE the exchange, so the
    shuffle carries O(groups x n) rows — a skewed 100 TB source costs the
    same as a balanced one.  md5(id) (not rand()) orders the draw; the id
    tie-break makes it total.
    """
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(key_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    p_col,
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Importance-weighted Bernoulli downsampling with a deterministic,
    engine-portable coin: keep each row with its own probability ``p_col``
    (a column or expression in [0, 1] — e.g. a quality score), decided by
    an md5 hash of the row id, never ``rand()``.

    The uniform draw is the first 8 hex digits of md5(id || ':' || salt)
    as an integer in [0, 2^32); the row survives iff
    ``u < floor(p * 2^32)``.  Every step (md5, hex parse, floor, integer
    compare) is bit-identical across engines and partition layouts, so
    the sample is reproducible at any scale and a different ``salt``
    yields an independent resample.  Pure narrow predicate: no shuffle,
    pushes below wide transforms.  Generalizes ``deterministic_mix``
    (per-source constant rates) to per-row probabilities.
    """
    p = F.col(p_col) if isinstance(p_col, str) else p_col
    u = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return df.filter(u.cast("double") < F.floor(p * F.lit(4294967296.0)))


def negative_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
    exclude_col: str | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for every anchor document, draw ``k`` pseudo-random negatives from
    the corpus by hashing — no RNG state, so the pairing is reproducible
    on any engine, partition layout, or cluster size, and a different
    ``salt`` is an independent epoch of negatives.

    Draw ``j`` for an anchor is ``md5(id || ':salt:' || j)`` decoded to
    an int and taken modulo ``max(id) + 1``; the candidate id joins back
    to the corpus (ids absent from a sparse domain drop out — the same
    rows drop on every engine).  Self-pairs are removed, and with
    ``exclude_col`` set, so are negatives sharing the anchor's value
    (e.g. same ``source`` — likely near-duplicates, too easy or leaky as
    negatives).  NOT rejection-resampled: a dropped draw shrinks that
    anchor's negative set rather than re-rolling, keeping every row's
    fate a pure function of (id, salt, j).

    Plan shape: the anchor side explodes k narrow rows per doc, then ONE
    shuffle hash join on the corpus id — broadcast-free, skew-free
    (hash-uniform candidate ids), linear in ``k x |docs|``.

    Returns ``(anchor_id, j, neg_id)`` + the negative's ``exclude_col``
    value when requested.
    """
    from .. import sqlgen

    max_id = docs.agg(F.max(F.col(id_col))).collect()[0][0]
    # empty corpus (or all-NULL ids): every anchor row is absent/NULL and
    # the result is empty either way — just avoid int(None)
    domain = int(max_id) + 1 if max_id is not None else 1
    a_cols = [F.col(id_col).alias("anchor_id")]
    if exclude_col is not None:
        a_cols.append(F.col(exclude_col).alias("_a_ex"))
    anch = docs.select(*a_cols, F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"))
    # 15 nibbles = 60 hash bits: uniform for any realistic id domain (a
    # 32-bit draw would make ids >= 2^32 unreachable and bias domains
    # anywhere near 2^32 — SCALE.md targets ~6e11-row tables)
    h = sqlgen.hex_to_int(
        f"md5(concat(cast(anchor_id as string), ':{salt}:', cast(j as string)))",
        nibbles=15,
    )
    cand = anch.select(
        "anchor_id",
        F.col("j").cast("bigint").alias("j"),
        *(["_a_ex"] if exclude_col is not None else []),
        (F.expr(h) % F.lit(domain)).alias("neg_id"),
    ).filter(F.col("neg_id") != F.col("anchor_id"))
    neg_cols = [F.col(id_col).alias("neg_id")]
    if exclude_col is not None:
        neg_cols.append(F.col(exclude_col).alias(f"neg_{exclude_col}"))
    out = cand.join(docs.select(*neg_cols), "neg_id")
    if exclude_col is not None:
        out = out.filter(F.col(f"neg_{exclude_col}") != F.col("_a_ex")).drop("_a_ex")
        return out.select("anchor_id", "j", "neg_id", f"neg_{exclude_col}")
    return out.select("anchor_id", "j", "neg_id")


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic global shuffle for training-data serving: every row
    gets a ``shard`` in [0, n_shards) and a ``pos`` (0-based) within its
    shard, both derived purely from ``md5(id || ':' || salt)`` — so the
    worldwide sample order is reproducible on any engine, any partition
    layout, any cluster size, and a different ``salt`` is an independent
    reshuffle (epoch 2 = ``salt='epoch2'``).

    Within a shard, rows are ordered by the hash (i.e. uniformly shuffled);
    ``pos`` is the training read order.  Writing ``partitionBy('shard')``
    then sorting by ``pos`` yields ready-to-stream epochs.

    Scale: ONE shuffle on ``shard`` (n_shards ~ thousands at 100 TB keeps
    per-shard sorts in-memory); no global sort, no RNG, no driver state.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    return (
        df.withColumn("_h", h)
        .withColumn("shard", (u % n_shards).cast("bigint"))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
            ).cast("bigint")
            - 1,
        )
        .drop("_h")
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ps",
) -> DataFrame:
    """Fixed-size weighted sample with an unbiased subset-sum estimator —
    priority sampling (Duffield, Lund & Thorup, "Priority sampling for
    estimation of arbitrary subset sums", JACM 54(6), 2007).

    Each row draws a deterministic uniform ``u = (h + 1) / 2^32`` from
    the md5 coin (``h`` = first 8 hex digits of ``md5(id || ':' ||
    salt)``, same idiom as :func:`weighted_sample`) and gets priority
    ``q = w / u = w * 2^32 / (h + 1)``.  The sample is the top ``k``
    rows by priority; with ``tau`` = the (k+1)-th priority (0 when the
    input has <= k rows), each sampled row carries ``w_hat = max(w,
    tau)`` and ``sum(w_hat)`` over the sample is an UNBIASED estimator
    of ``sum(w)`` over the whole input — for any subset predicate, which
    is what makes one sample reusable for many downstream audits
    (per-source token shares, quality-band sizes, ...).

    Engine-portable bitwise: md5 + hex parse are exact; ``w * 2^32 /
    (h+1)`` is two correctly-rounded IEEE ops on exact integer operands,
    so both priority BITS and the (q desc, id asc) order agree across
    engines and partition layouts; ``max(w, tau)`` is exact.

    NULL handling: a NULL weight (or id) makes the priority NULL,
    which sorts last under DESC in both engines — such rows are
    effectively never sampled; filter upstream if they should compete.
    NaN handling: a NaN weight makes the priority NaN, which Spark
    orders GREATER than any double (first under DESC) and which
    ``greatest`` propagates — the epilogue mirrors that total order
    explicitly (NaN > +inf > ... > NULL-last), so NaN weights are
    deterministic winners with ``w_hat = NaN``, exactly as the window
    formulation computed them.

    Scale shape: ``orderBy(q).limit(k+1)`` plans as
    TakeOrderedAndProject — a size-(k+1) heap per partition, then a
    single (k+1)-row merge; no global sort, no RNG.  The k + 1 winners
    are collected and the tau epilogue runs driver-side (they are
    driver-size by construction — same idiom as the PSI count-frame
    epilogue), so the corpus is scanned exactly ONCE and no
    unpartitioned WindowExec appears in the plan.  Returns ``(id, w,
    w_hat)`` for the k sampled rows.
    """
    if k < 1:
        raise ValueError(f"priority_sample: k must be >= 1, got {k}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    w = F.col(weight_col).cast("double")
    q = w * F.lit(4294967296.0) / (h + F.lit(1)).cast("double")
    top = (
        df.select(F.col(id_col), F.col(weight_col).alias("w"), q.alias("_q"))
        .orderBy(F.col("_q").desc(), F.col(id_col).asc())
        .limit(k + 1)
    )
    # Driver-side tau epilogue over the k + 1 winners (bounded by
    # construction).  A window formulation needs either an
    # unpartitioned WindowExec (noisy all-to-one warning at every run)
    # or a literal partition key (constant-folded away by Catalyst,
    # warning returns) — collecting sidesteps both and drops the
    # window exchange.  The Python arithmetic below mirrors the SQL
    # bit-for-bit: `_q` doubles round-trip exactly through collect,
    # `max(w, tau)` == `greatest` on non-null doubles, and the
    # (q desc, id asc) comparator matches Spark/DuckDB ordering (NULL
    # priorities sort last under DESC in both; here None -> -inf).
    # Spark orders NaN GREATER than any double and `min`/`greatest`
    # honor that same total order, so the epilogue ranks (NaN, finite
    # desc, NULL) explicitly rather than letting Python's
    # NaN-poisoned comparisons produce an order-dependent sort.
    # Bitwise-pinned by test_priority_sample_matches_numpy_reference.
    def _desc_rank(q):  # smaller tuple = earlier under (q DESC, id ASC)
        if q is None:
            return (2, 0.0)  # NULL last under DESC
        if q != q:
            return (0, 0.0)  # NaN first: NaN > +inf in Spark's order
        return (1, -q)

    rows = top.collect()
    rows.sort(key=lambda r: (_desc_rank(r["_q"]), r[id_col]))
    tau = 0.0
    if len(rows) == k + 1:
        # SQL `min(_q)` ignores NULLs; NaN is greater than any double,
        # so it is the min only when every non-null input is NaN.
        qs = [r["_q"] for r in rows if r["_q"] is not None]
        finite_or_inf = [v for v in qs if v == v]
        tau = min(finite_or_inf) if finite_or_inf else (float("nan") if qs else None)
    out = []
    for r in rows[:k]:
        # mirrors `greatest(w.cast("double"), tau)`: cast-then-max,
        # null-skipping, NaN-propagating (NaN is the greatest double)
        cand = [v for v in (None if r["w"] is None else float(r["w"]), tau) if v is not None]
        if not cand:
            w_hat = None
        elif any(v != v for v in cand):
            w_hat = float("nan")
        else:
            w_hat = max(cand)
        out.append((r[id_col], r["w"], w_hat))
    spark = df.sparkSession
    schema = T.StructType(
        [
            top.schema[id_col],
            top.schema["w"],
            T.StructField("w_hat", T.DoubleType(), True),
        ]
    )
    return small_frame(spark, out, schema)


def priority_sample_per_group(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "ps",
) -> DataFrame:
    """Per-group priority sampling: ``k`` rows from EVERY ``group_col``
    value (source, language, domain), weight-proportional within the
    group, with the same Duffield-Lund-Thorup estimator as
    :func:`priority_sample` computed per group — ``tau_g`` is the
    group's (k+1)-th priority (0 when the group has <= k rows) and
    ``w_hat = max(w, tau_g)``, so ``sum(w_hat)`` over one group's
    sample unbiasedly estimates that group's total weight.  The
    stratified counterpart of the global top-k: per-source quota
    sampling that still supports token-mass audits per stratum.

    Scale shape: the ``row_number <= k+1`` filter triggers Catalyst's
    WindowGroupLimit rewrite — each map task keeps a (k+1)-row heap per
    group BEFORE the exchange, so a skewed 100 TB source shuffles the
    same O(groups x k) rows as a balanced one (the ``cap_per_group``
    precedent).  The tau/count windows run over the survivors on the
    same partitioning (no second exchange).  Deterministic md5 coin,
    bitwise-portable arithmetic — same contract as
    :func:`priority_sample`.  Returns ``(group_col, id, w, w_hat)``.
    """
    if k < 1:
        raise ValueError(f"priority_sample_per_group: k must be >= 1, got {k}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    q = (
        F.col(weight_col).cast("double")
        * F.lit(4294967296.0)
        / (h + F.lit(1)).cast("double")
    )
    ranked = Window.partitionBy(group_col).orderBy(F.col("_q").desc(), F.col(id_col).asc())
    grp = Window.partitionBy(group_col)
    top = (
        df.select(F.col(group_col), F.col(id_col), F.col(weight_col).alias("w"), q.alias("_q"))
        .withColumn("_rn", F.row_number().over(ranked))
        .filter(F.col("_rn") <= k + 1)
    )
    tau = F.when(F.count(F.lit(1)).over(grp) == k + 1, F.min("_q").over(grp)).otherwise(
        F.lit(0.0)
    )
    return (
        top.withColumn("_tau", tau)
        .filter(F.col("_rn") <= k)
        .select(
            group_col,
            id_col,
            "w",
            F.greatest(F.col("w").cast("double"), F.col("_tau")).alias("w_hat"),
        )
    )


def percentile_filter(
    df: DataFrame,
    score_col: str,
    group_cols: list[str],
    drop_below: float,
) -> DataFrame:
    """Per-group percentile threshold filter: within each group, drop the
    rows whose ``score_col`` falls in the bottom ``drop_below`` fraction
    (cume_dist < drop_below), e.g. "discard the worst 20% of documents
    per language".

    cume_dist (share of rows with score <= mine) is rank-based, so the
    cut is tie-stable and identical across engines — no percentile
    interpolation, no RNG.  One shuffle on the group key; the window
    carries only (group, score), and at 100 TB per-group state is a sort
    of that group's rows — pair with salting only if one group dominates.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(F.col(score_col))
    return (
        df.withColumn("_cd", F.cume_dist().over(w))
        .filter(F.col("_cd") >= F.lit(drop_below))
        .drop("_cd")
    )


def select_to_token_budget(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_cols: list,
    partition_cols: list | None = None,
) -> DataFrame:
    """Greedy token-budget corpus selection: walk rows in ``order_cols``
    order (best-first — quality desc plus a unique tie-break) and keep
    rows while the running token total stays within ``budget`` — "fill a
    50B-token training mix with the best documents".

    The running total is a window cumsum, so selection is exact and
    deterministic (the boundary document that would overflow the budget
    is excluded).  With ``partition_cols`` the budget applies per group
    (per source/language — the scale-safe shape: each group sorts
    independently).  Without them the window is global: exact global
    selection inherently serializes one sort — fine up to ~10^8 rows of
    (score, count) pairs; beyond that, budget per shard and reconcile.
    """
    from pyspark.sql import Window

    parts = partition_cols or []
    w = (
        Window.partitionBy(*parts)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_running", F.sum(F.col(token_col).cast("long")).over(w))
        .filter(F.col("_running") <= F.lit(int(budget)))
        .drop("_running")
    )


def interleave_sources(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic stride-scheduled interleaving of corpus sources —
    the training-data-loader ORDER (not just the mix ratio): within each
    shard, documents appear in an order where source ``s`` with integer
    weight ``w_s`` occupies ~``w_s``/sum(w) of every window of the
    sequence, computed purely from hashes and integer arithmetic
    (reproducible on any engine/layout; a different salt is a new epoch).

    Mechanics (stride scheduling): the i-th document of source s (i from
    the per-source md5 rank) gets integer key ``i * (L / w_s)`` with
    ``L = lcm(weights)``; sorting a shard by that key interleaves the
    sources at their rates.  Unknown sources are dropped (explicit
    curation contract).

    Scale: every window partitions by ``shard`` — no global sort, no
    single-partition window; n_shards ~ thousands at 100 TB keeps the
    per-shard sorts in executor memory (same shape as ``shard_assign``).

    Returns ``(id_col, source_col, shard, pos)`` — ``pos`` is the
    0-based serving order within the shard.
    """
    import math

    from pyspark.sql.window import Window

    if not weights or any(w <= 0 or not isinstance(w, int) for w in weights.values()):
        raise ValueError("weights must be positive integers per source")
    lcm = math.lcm(*weights.values())
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    d = df.filter(F.col(source_col).isin(list(weights))).select(
        id_col, source_col,
        (u % n_shards).alias("shard"),
        h.alias("_h"),
    )
    rn = F.row_number().over(
        Window.partitionBy("shard", source_col).orderBy(F.col("_h"), F.col(id_col))
    )
    key = None
    for s, w in sorted(weights.items()):
        cond = F.col(source_col) == s
        key = F.when(cond, F.lit(int(lcm // w))) if key is None else key.when(
            cond, F.lit(int(lcm // w))
        )
    d = d.withColumn("_rn", rn).withColumn("_stride", key).withColumn(
        "_key", F.col("_rn").cast("bigint") * F.col("_stride").cast("bigint")
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy(
            F.col("_key"), F.col(source_col), F.col(id_col)
        )
    )
    return d.select(
        id_col, source_col, "shard", (pos - 1).cast("bigint").alias("pos")
    )


def throttle_events(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 3600,
    keep: int = 1,
    tie_cols: tuple = ("event_id",),
) -> DataFrame:
    """Rate limiting / windowed dedup: keep each key's FIRST ``keep``
    events per tumbling ``window_seconds`` window (epoch-aligned) — the
    standard ingestion throttle for retry storms, bot bursts, and
    at-least-once upstreams where latest-by-key is too coarse (it keeps
    one row EVER; this keeps one per window).

    One exchange on ``(key, window)``; the row_number rewrites to
    WindowGroupLimit, so each map task ships at most ``keep`` rows per
    (key, window) into the shuffle — under a retry storm the shuffle
    carries the throttled volume, not the storm.  Window assignment is
    TRUE integer µs division, truncating toward zero on BOTH engines
    (Spark ``%`` keeps the dividend's sign, so ``(e - e % w) / w`` is
    an exact-multiple double division = trunc division; DuckDB BIGINT
    ``//`` also truncates — verified ``(-5)//2 = -2``), so pre-1970
    timestamps assign the same window_id cross-engine.  No float
    regime where a 1 µs-pre-boundary event could round across; no
    session-timezone dependence beyond the NTZ reinterpretation
    (pinned UTC).
    """
    if window_seconds <= 0 or keep <= 0:
        raise ValueError(
            f"window_seconds and keep must be positive, got {window_seconds}, {keep}"
        )
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    window_us = F.lit(int(window_seconds) * 1_000_000)
    # built from the Column, not an interpolated identifier: ts_col names
    # needing backticks stay safe, and the remainder-subtracted numerator
    # is an exact multiple of window_us so the double division is exact
    win = ((epoch - epoch % window_us) / window_us).cast("bigint")
    w = Window.partitionBy(F.col(key), F.col("_win")).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tie_cols]
    )
    return (
        df.withColumn("_win", win)
        .withColumn("_rn_thr", F.row_number().over(w))
        .filter(F.col("_rn_thr") <= keep)
        .drop("_rn_thr")
        .withColumnRenamed("_win", "window_id")
    )


def temperature_mix_weights(
    df: DataFrame,
    source_col: str = "source",
    token_col: str = "n_tokens",
    sqrt_steps: int = 2,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled corpus mixing weights — the multilingual-LLM
    sampling-rate computation (XLM-R / mT5 style): upsample small
    sources, downsample large ones with ``w_i ∝ (n_i)^alpha``,
    ``alpha = 2^-sqrt_steps`` (0.25 by default — near the literature's
    0.3, and computed as a chain of IEEE ``sqrt`` ops, each correctly
    rounded and engine-identical, where ``pow(x, 0.3)`` carries no
    cross-libm bit guarantee).

    Output per source: exact ``n_docs`` / ``n_tokens`` counts, the
    normalized sampling ``weight``, the token allocation under
    ``token_budget``, and ``epochs`` = allocation / corpus size (how
    many passes over that source the mix implies — the number training
    teams actually review for overfitting risk on small sources).

    Determinism: the per-source sums are exact integers; ``w_raw =
    sqrt^m(n_tokens)`` is exact IEEE; the normalizer is a LEFT FOLD of
    the per-source ``w_raw`` in source order (driver-side epilogue over
    the per-source rows, bounded by the source cardinality — same idiom
    as the priority-sample tau), mirrored in SQL as
    ``list_reduce(list(w_raw order by source), +)`` so both engines add
    in the identical sequence.  weight/alloc/epochs are then single
    correctly-rounded ops on those shared values => bitwise.

    Scale shape: ONE hash aggregate over the corpus (map-side partial
    sums); the epilogue touches only #sources rows.  Feed the weights
    to :func:`deterministic_mix` (rates = epochs clipped to 1) or a
    weighted sampler to materialize the mix.
    """
    if sqrt_steps < 1:
        raise ValueError(
            f"temperature_mix_weights: sqrt_steps must be >= 1, got {sqrt_steps}"
        )
    per = (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col(token_col).cast("bigint")).cast("bigint").alias("n_tokens"),
        )
        .collect()
    )
    rows = sorted(per, key=lambda r: r[source_col])
    import math

    w_raw = []
    for r in rows:
        v = float(r["n_tokens"])
        for _ in range(sqrt_steps):
            v = math.sqrt(v)
        w_raw.append(v)
    denom = w_raw[0]
    for v in w_raw[1:]:
        denom = denom + v
    out = []
    for r, w in zip(rows, w_raw):
        weight = w / denom
        alloc = weight * float(token_budget)
        epochs = alloc / float(r["n_tokens"])
        out.append((r[source_col], r["n_docs"], r["n_tokens"], weight, alloc, epochs))
    spark = df.sparkSession
    schema = T.StructType(
        [
            T.StructField(source_col, T.StringType(), True),
            T.StructField("n_docs", T.LongType(), True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("weight", T.DoubleType(), True),
            T.StructField("alloc_tokens", T.DoubleType(), True),
            T.StructField("epochs", T.DoubleType(), True),
        ]
    )
    return small_frame(spark, out, schema)
