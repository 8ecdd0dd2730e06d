"""Table profiling: the data-quality audit pass a 100 TB ingest runs
before anything else — per-column null rates, cardinalities, and numeric
ranges in ONE scan.

All metrics are plain partial-aggregable aggregates computed in a single
``agg`` (one job, no per-column scans); the long-form output unpivots
via ``stack``, which is projection-only.  Distinct counts are exact
hash aggs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import join_exact
from ..sources.readers import small_frame


def profile(df: DataFrame) -> DataFrame:
    """Profile every column: (column, n, n_null, n_distinct, min_num,
    max_num) — min/max only for numeric columns (null otherwise)."""
    numeric = {
        c for c, t in df.dtypes
        if t in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or t.startswith("decimal")
    }
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in df.columns:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"mx_{c}"))
    wide = df.agg(*aggs)
    stacks = []
    for c in df.columns:
        mn = f"mn_{c}" if c in numeric else "cast(null as double)"
        mx = f"mx_{c}" if c in numeric else "cast(null as double)"
        stacks.append(f"'{c}', _n, nn_{c}, nd_{c}, {mn}, {mx}")
    expr = (
        f"stack({len(df.columns)}, "
        + ", ".join(stacks)
        + ") as (column, n, n_null, n_distinct, min_num, max_num)"
    )
    return wide.selectExpr(expr)


def key_skew(
    df: DataFrame,
    cols: list[str],
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Key-skew report: per candidate key column — row count, distinct
    keys, the hottest key's row count and share.  This is the number that
    decides the shuffle strategy at 100 TB: top_share ~ 1/n_keys means
    uniform (plain hash partitioning); top_share >> 1/n_keys means a hot
    key that serializes one reducer — use ``joins.salted_join`` / AQE
    skew handling.

    Per column: one partial-aggregable two-level count (groupBy(col) ->
    max), unioned; cost is one shuffle per audited column.  At 100 TB set
    ``sample_fraction`` (e.g. 0.01): a seeded Bernoulli row-sample scans
    1% and the probe becomes sub-minute — ``top_share`` is a ratio of two
    binomial draws from the same sample, so its estimate converges fast
    for exactly the hot keys the probe exists to find; ``n_keys`` is the
    sample's distinct count (an undercount for long-tailed keys — read it
    as a floor, use ``sketches.approx_distinct`` for the true value).
    """
    if sample_fraction is not None:
        df = df.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    parts = []
    for c in cols:
        counts = df.groupBy(c).agg(F.count(F.lit(1)).alias("_c"))
        parts.append(
            counts.agg(
                F.lit(c).alias("column"),
                F.sum("_c").alias("n"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("_c").alias("top_n"),
                (F.max("_c").cast("double") / F.sum("_c")).alias("top_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass(frozen=True)
class SkewRoute:
    """Shuffle-strategy decision for one key column (SCALE.md §runbook).

    strategy: 'hash' (plain shuffle; AQE covers moderate skew),
    'salted' (``joins.salted_join`` — one key alone overflows a task),
    with an independent ``max_events_per_key`` recommendation for
    per-key sequence operators (the ``operators.analytics`` guard).
    """

    column: str
    strategy: str
    skew_ratio: float  # top_n / avg rows-per-key
    salt: int  # salt factor for salted_join (1 = unsalted)
    max_events_per_key: int | None  # None = no trim needed


def route_skew(
    report_rows,
    partition_budget_rows: int = 5_000_000,
    automaton_budget_rows: int = 100_000_000,
    max_salt: int = 64,
) -> dict[str, SkewRoute]:
    """Turn a ``key_skew`` report into per-column shuffle routing — the
    decision rule of SCALE.md's 100 TB runbook, as code.

    ``report_rows``: collected rows (or dicts) with column/n/n_keys/top_n
    — i.e. ``key_skew(df, cols).collect()``; with ``sample_fraction`` set
    on the probe, scale ``partition_budget_rows`` down by the same
    fraction (ratios are scale-free, the budgets are not).

    Rule (rows, not bytes — multiply by row width to adapt budgets):

    - ``top_n <= partition_budget_rows``: **hash**.  The hottest key fits
      one task; moderate skew (a few multiples of average) is AQE's
      skew-split job, not ours — salting would add shuffle volume for
      nothing.
    - ``top_n > partition_budget_rows``: **salted** for joins/aggs on
      that key: AQE can only split partitions at KEY boundaries, so one
      key bigger than a task budget serializes a reducer no matter how
      AQE re-plans.  ``salt = ceil(top_n / partition_budget_rows)``
      (capped at ``max_salt`` — salt multiplies the replicated side).
    - independently, ``top_n > automaton_budget_rows`` routes the per-key
      sequence automata to ``max_events_per_key = automaton_budget_rows``
      (the ~40 B/event collect_list bound, SCALE.md): salting cannot help
      an operator whose semantics need the WHOLE key in one place, so it
      trims instead.
    """
    import math

    out: dict[str, SkewRoute] = {}
    for r in report_rows:
        g = r.get if isinstance(r, dict) else r.__getitem__
        col, n, n_keys, top_n = g("column"), g("n"), g("n_keys"), g("top_n")
        avg = n / max(n_keys, 1)
        if top_n > partition_budget_rows:
            strategy = "salted"
            salt = min(max_salt, math.ceil(top_n / partition_budget_rows))
        else:
            strategy = "hash"
            salt = 1
        cap = automaton_budget_rows if top_n > automaton_budget_rows else None
        out[col] = SkewRoute(
            column=col,
            strategy=strategy,
            skew_ratio=top_n / avg,
            salt=salt,
            max_events_per_key=cap,
        )
    return out


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of a numeric column over [lo, hi): per bin —
    row count, actual min/max seen.  Values outside the range clamp into
    the edge bins (bin 0 / bin n_bins-1), so the histogram always accounts
    for every non-null row.

    ``bin = clamp(floor((x - lo) / width), 0, n_bins-1)`` is a pure
    codegen expression (floor on double is exact and engine-identical),
    and the aggregation is partial-aggregable with ~n_bins groups — the
    100 TB cost is one scan plus a shuffle of n_bins rows per task.
    Empty bins are absent (join a bin spine if a dense axis is needed).
    """
    width = (hi - lo) / n_bins
    x = F.col(col).cast("double")
    b = F.floor((x - F.lit(lo)) / F.lit(width))
    clamped = F.least(F.lit(n_bins - 1).cast("bigint"), F.greatest(F.lit(0).cast("bigint"), b))
    return (
        df.filter(x.isNotNull())
        .groupBy(clamped.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(x).alias("min_val"),
            F.max(x).alias("max_val"),
        )
        .withColumn("bin_lo", F.lit(lo) + F.col("bin") * F.lit(width))
        .withColumn("bin_hi", F.lit(lo) + (F.col("bin") + 1) * F.lit(width))
    )


def expect(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Data-quality expectations: every rule is a SQL boolean each row
    must satisfy; returns ``(rule, n_violations, n_rows)`` per rule.

    ONE scan, one 1-row aggregate regardless of rule count — each rule
    compiles to a conditional count inside the same HashAggregate (NULL
    counts as a violation: an expectation that cannot be evaluated is not
    met).  The result unpivots via ``stack``, so adding rules never adds
    jobs — the 100 TB validation sweep costs exactly one pass.
    """
    aggs = [
        F.expr(
            f"cast(sum(case when not ({expr}) or ({expr}) is null "
            f"then 1 else 0 end) as bigint)"
        ).alias(name)
        for name, expr in rules.items()
    ]
    row = df.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    pairs = ", ".join(f"'{name}', {name}" for name in rules)
    return row.selectExpr(
        f"stack({len(rules)}, {pairs}) as (rule, n_violations)",
        "cast(_n as bigint) as n_rows",
    )


def drift_psi(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    edges: list[float],
) -> DataFrame:
    """Population Stability Index between two samples of ``value_col`` —
    the standard training-data / feature drift monitor (PSI < 0.1 stable,
    > 0.25 shifted).

    Both sides bin by the same fixed ``edges`` (P7 semantics; out-of-range
    -> bin NULL, kept as its own bucket) and Laplace-smooth:
    p_i = (n_i + 1) / (N + B).  PSI = sum_i (p_i - q_i) * ln(p_i / q_i).

    Determinism contract (hash-gated cross-engine): every ln argument is
    an INTEGER (counts + smoothed totals), so logs come from an
    exact-libm table (``functions.stats``, as in tfidf's idf) — and
    ln(p/q) decomposes as (ln n_a - ln N_a) - (ln n_b - ln N_b).  The
    per-bin fold into the PSI total runs over the bin-sorted array
    (list_reduce / aggregate), giving one IEEE summation order on any
    engine or partitioning.

    Scale: the heavy operand — binning and counting each sample — is two
    codegen scans + tiny (B-row) aggregates; the epilogue joins B rows.

    Output: one row per bin (NULL bin last):
    (bin, n_a, n_b, p_a, p_b, term, psi) with psi repeated on every row.
    """
    from .projections import bin_by_edges

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(bin_by_edges(value_col, edges).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    return psi_from_counts(counts(df_a, "n_a"), counts(df_b, "n_b"), edges)


def psi_from_counts(ca: DataFrame, cb: DataFrame, edges: list[float]) -> DataFrame:
    """PSI epilogue over precomputed (bin, n_a) / (bin, n_b) count frames
    — shared by batch :func:`drift_psi` and the streaming monitor
    (``streaming.events`` replays its per-bin streaming aggregation to
    completion and feeds the final counts here)."""
    import math

    spark = ca.sparkSession
    n_bins = len(edges) - 1 + 1  # real bins + the out-of-range NULL bucket
    bins = small_frame(spark, [(b,) for b in range(len(edges) - 1)] + [(None,)], "bin int")
    joined = (
        bins.join(ca, "bin", "left")
        .join(cb, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        )
    )
    rows = joined.collect()  # B rows — the bounded epilogue, not the data
    # the epilogue below has THREE consumers of ``joined`` (the detailed
    # projection, the psi fold, and this collect): rebuild the B-row
    # frame from the already-collected rows so the corpus-scale count
    # scans execute exactly once (r8 — the corpus_prep double-replay
    # lesson; before this, each count scan ran 3x per invocation)
    joined = small_frame(spark, rows, joined.schema)
    tot_a = sum(r.n_a for r in rows) + n_bins
    tot_b = sum(r.n_b for r in rows) + n_bins
    ints = sorted({r.n_a + 1 for r in rows} | {r.n_b + 1 for r in rows})
    lta = float(math.log(tot_a))
    ltb = float(math.log(tot_b))
    term = (
        f"((cast(n_a + 1 as double) / cast({tot_a} as double))"
        f" - (cast(n_b + 1 as double) / cast({tot_b} as double)))"
        f" * ((_lna - cast({lta!r} as double)) - (_lnb - cast({ltb!r} as double)))"
    )
    joined = joined.withColumns({"_ia": F.col("n_a") + 1, "_ib": F.col("n_b") + 1})
    detailed = (
        join_exact(join_exact(joined, "_ia", ints, math.log, "_lna"), "_ib", ints, math.log, "_lnb")
        .withColumn("p_a", F.expr(f"cast(n_a + 1 as double) / cast({tot_a} as double)"))
        .withColumn("p_b", F.expr(f"cast(n_b + 1 as double) / cast({tot_b} as double)"))
        .withColumn("term", F.expr(term))
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(coalesce(bin, 999999) as b, term))),"
        " s -> s.term), cast(0 as double), (a, x) -> a + x)"
    )
    psi = detailed.select(F.expr(f"{fold} as psi").alias("psi"))
    return detailed.crossJoin(F.broadcast(psi)).select(
        "bin", "n_a", "n_b", "p_a", "p_b", "term", "psi"
    )


def k_anonymity(df, quasi_cols: list[str], k: int = 5):
    """k-anonymity audit over a quasi-identifier combination: every row's
    equivalence class (identical quasi-identifier tuple) and whether it
    meets the ``k`` threshold.  Returns one row per class:
    ``(quasi_cols..., class_size, at_risk)`` — ``at_risk`` classes are
    re-identifiable cohorts a release must generalize or suppress.

    One hash aggregate; with :func:`~..operators.cleaning.pseudonymize`
    this is the engine's release-safety pair: tokenize direct
    identifiers, then PROVE the quasi-identifiers don't single anyone
    out.
    """
    from pyspark.sql import functions as F

    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        (F.count(F.lit(1)) < k).alias("at_risk"),
    )
