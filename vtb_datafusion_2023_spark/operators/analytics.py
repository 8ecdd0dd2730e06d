"""Product-analytics operators over event logs: funnels and retention
cohorts.  Natural extensions of the reference's per-user temporal
aggregations (/root/reference/run.py:335-430 buckets event time per
user); these compose the same groupBy/join primitives into the two
standard event-analytics questions.

Scale: every stage keys on ``user_id`` — the same partitioning reused
across steps (co-partitioned joins, no new shuffle key); counts are
plain partial-aggregable hash aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: list[str],
    within: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Ordered-funnel completion counts: users whose first ``steps[0]``
    is followed by the other steps IN ORDER, each strictly later than the
    previous step's completion time and all within ``within`` of step 1.
    Returns (step, step_name, n_users).

    Plan (the 100 TB shape): pre-filter to the step types, ONE shuffle
    on ``user_col``, then the greedy state machine runs JVM-side as an
    ``aggregate`` HOF over each user's time-sorted event array, followed
    by one global conditional aggregation for the per-step counts — two
    shuffles total, independent of len(steps).  An event advances the
    state iff it is the next step's type, strictly after the previous
    step's time, and within the step-1 deadline; the scan consumes the
    EARLIEST such event, which is exactly the per-step ``min(ts)`` of
    the per-step join formulation (len(steps) co-partitioned hash aggs
    and joins; pinned row-identical to it by the test reference
    ``reference_funnel_joins`` in tests/test_datapipe.py).

    ``max_events_per_key`` (optional) bounds per-user memory: each user
    keeps only their first N step-type events in ``(ts, type)`` order
    (NULL ts trimmed first) before the funnel runs — see
    :func:`_trim_per_key` for the prefix-semantics contract and why the
    trim adds no exchange.
    """
    if max_events_per_key is not None:
        # trim AFTER the step-type pre-filter so the budget counts only
        # events that can participate in the funnel
        events = _trim_per_key(
            events.filter(F.col(type_col).isin(steps)),
            user_col,
            ts_col,
            type_col,
            max_events_per_key,
        )
    ts_t = events.schema[ts_col].dataType.simpleString()
    n = len(steps)
    steps_sql = _steps_literal(steps)
    # NULL-timestamp events can't advance the ordered chain (the joins
    # formulation's ts > t_prev comparison rejects them), but a user
    # whose ONLY step-1 events are NULL-ts still counts at step 1 there
    # (groupBy+min yields a t_0=NULL row).  The automaton scans the
    # non-NULL-ord events (collect_list skips the NULL branch) and a
    # second aggregate restores the step-1 membership — keeping the
    # join formulation and the SQL oracle row-identical on NULL timestamps.
    scan = f"""
    aggregate(
      sort_array(collect_list(case when _o is not null then struct(_o, _t) end)),
      struct(0 as state, cast(null as {ts_t}) as last, cast(null as {ts_t}) as deadline),
      (acc, e) -> if(
         acc.state >= {n}
         or not (e._t <=> element_at({steps_sql}, acc.state + 1))
         or (acc.state > 0 and (e._o <= acc.last or e._o > acc.deadline)),
         acc,
         named_struct(
           'state', acc.state + 1,
           'last', e._o,
           'deadline', if(acc.state = 0, e._o + interval {within}, acc.deadline))),
      acc -> acc.state)
    """
    ev = events.select(
        F.col(user_col), F.col(ts_col).alias("_o"), F.col(type_col).alias("_t")
    ).filter(F.col("_t").isin(steps))
    first = steps[0].replace("\\", "\\\\").replace("'", "''")
    reached = ev.groupBy(user_col).agg(
        F.greatest(
            F.expr(scan), F.expr(f"max(if(_t <=> '{first}', 1, 0))")
        ).alias("_reached")
    )
    wide = reached.agg(
        *[
            F.sum(F.when(F.col("_reached") >= i, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_n{i}")
            for i in range(1, n + 1)
        ]
    )
    tiers = F.array(
        *[
            F.struct(
                F.lit(i).alias("step"),
                F.lit(name).alias("step_name"),
                F.coalesce(F.col(f"_n{i}"), F.lit(0).cast("bigint")).alias("n_users"),
            )
            for i, name in enumerate(steps, start=1)
        ]
    )
    return wide.select(F.explode(tiers).alias("_t")).select(
        "_t.step", "_t.step_name", "_t.n_users"
    )


def _trim_per_key(
    df: DataFrame, key: str, ord_col: str, type_col: str, max_events_per_key: int
) -> DataFrame:
    """Keep each key's first ``max_events_per_key`` events in
    ``(ord_col, type_col)`` order (NULL ords sort LAST, so they are
    trimmed first — a NULL ord has no position in event time).

    This is the memory guard for the per-key sequence automata: the
    window's partitioning matches the downstream ``groupBy(key)``, so
    Catalyst reuses ONE exchange (plan-pinned by pytest), and the trim
    happens inside the window's SPILLABLE sort — converting the
    unbounded ``collect_list`` hash-agg buffer a hot key would otherwise
    grow into a bounded array of at most ``max_events_per_key`` entries.

    The greedy automata are prefix-stable (each match/step consumes the
    earliest valid event, never a later one), so the trimmed result is
    exactly the full scan's result restricted to spans completing within
    the key's first ``max_events_per_key`` events.

    Determinism: when a key holds duplicate ``(ord_col, type_col)`` rows,
    a binding cap must still keep the SAME physical rows on every
    execution (speculative retries, the test-reference differentials), so
    the window order ends with a content hash over all columns as the
    final tiebreaker — rows identical in every column are the only
    remaining ties, and those are interchangeable.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import MapType

    hashable = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, MapType)
    ]  # maps aren't hashable in Spark
    w = Window.partitionBy(key).orderBy(
        F.col(ord_col).asc_nulls_last(),
        F.col(type_col).asc_nulls_last(),
        F.xxhash64(*[F.col(c) for c in hashable]).asc(),
    )
    return (
        df.withColumn("_rn_trim", F.row_number().over(w))
        .filter(F.col("_rn_trim") <= max_events_per_key)
        .drop("_rn_trim")
    )


def _steps_literal(steps: list[str]) -> str:
    """Spark-SQL array literal of step names.  Backslashes must escape
    too: Spark string literals interpret \\b etc., so a bare backslash
    in a step name would silently corrupt the automaton's comparisons
    while Column-API comparisons match the raw string."""
    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    return "array(" + ",".join(q(s) for s in steps) + ")"

def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted per subsequent active week.

    Returns (cohort_week, weeks_since, n_active).  Two hash aggs and one
    user-keyed join — the cohort table is 1 row/user and joins
    co-partitioned with the distinct-activity table.
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("cohort_week")
    )
    active = (
        events.select(user_col, F.date_trunc("week", F.col(ts_col)).alias("week"))
        .distinct()
    )
    return (
        active.join(first, user_col)
        .withColumn(
            "weeks_since",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct(F.col(user_col)).alias("n_active"))
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` (ties broken by ``tie_cols``
    so the selection is deterministic under any partitioning).

    Planned as row_number over a grouped window + ``rk <= k`` filter,
    which Catalyst rewrites to WindowGroupLimit: each map task keeps a
    k-row heap per group BEFORE the shuffle, so the exchange carries
    O(groups x k) rows, not the full table (plan-shape-tested).
    """
    order = [F.desc(order_col) if descending else F.asc(order_col)]
    order += [F.asc(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def pair_affinity(
    df: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
) -> DataFrame:
    """Market-basket pair affinity: for every unordered item pair, how
    many baskets contain both, each item's basket count, and lift
    (support ratio vs independence) — the exact 2-itemset core of
    association mining (spark.ml FPGrowth generalizes to k-itemsets;
    differential-tested against it).

    Scale shape: distinct (basket, item) once, then a SELF-JOIN ON THE
    BASKET KEY (co-partitioned, one shuffle) — never an item-pair
    cartesian.  Per-basket distinct items bound the join fan-out
    (cap wide baskets upstream with ``cap_per_source`` semantics if a
    basket can be pathological).  Lift divides exact int64 counts in one
    fixed expression — bitwise deterministic.
    """
    # base is referenced four times (count action, both self-join sides,
    # per-item counts); pin it once — the count() below is an action
    # anyway, so the eager checkpoint replaces a recompute, not adds one
    # (audited: 4 scans / 7 exchanges before, 1 scan after)
    base = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_baskets = base.select("_b").distinct().count()
    per_item = base.groupBy("_i").agg(F.count(F.lit(1)).alias("_n"))
    a = base.select(F.col("_b"), F.col("_i").alias("item_a"))
    b = base.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = per_item.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a"))
    nb = per_item.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                f"(cast(n_both as double) * cast({n_baskets} as double))"
                " / (cast(n_a as double) * cast(n_b as double))"
            ).alias("lift"),
        )
    )


def seasonal_decompose_sql(
    key: str, order: str, value: str, period: int = 24
) -> tuple[str, str, str]:
    """Shared SQL fragments (trend, phase, seasonal) for
    :func:`seasonal_decompose` — the same text runs in Spark and DuckDB,
    so the decomposition is bitwise cross-engine."""
    from .. import sqlgen

    h = period // 2
    w = f"partition by {key} order by {order} rows between {h} preceding and {h} following"
    cnt = f"count({value}) over ({w})"
    tsum = sqlgen.dec_to_double(f"sum(cast(({value}) as {sqlgen.DEC})) over ({w})")
    trend = f"(case when {cnt} = {2 * h + 1} then ({tsum} / {cnt}) end)"
    phase = (
        f"cast(((row_number() over (partition by {key} order by {order})) - 1)"
        f" % {period} as int)"
    )
    det = f"(({value}) - trend)"
    ssum = sqlgen.dec_to_double(
        f"sum(cast({det} as {sqlgen.DEC})) over (partition by {key}, phase)"
    )
    scnt = f"count({det}) over (partition by {key}, phase)"
    seasonal = f"({ssum} / {scnt})"
    return trend, phase, seasonal


def seasonal_decompose(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    period: int = 24,
) -> DataFrame:
    """Classical additive time-series decomposition on a REGULAR per-key
    series (regularize gaps first with ``windows.gap_fill``):

    - ``trend``: centered decimal-exact mean over ``2*(period//2)+1``
      rows (NULL on the edges where the window is partial — the classic
      moving-average convention),
    - ``seasonal``: per-(key, phase) mean of the detrended values, phase
      = position in the period cycle,
    - ``residual``: ``value - trend - seasonal``.

    Everything derives from decimal-exact window sums with textually
    identical SQL in both engines => bitwise reproducible at any
    partitioning.  Two window shuffles (key-ordered frame, then
    (key, phase) partition) — the minimal plan for a centered frame; at
    100 TB each key's series must fit a partition (same contract as
    every ordered per-user window in the engine).
    """
    trend, phase, seasonal = seasonal_decompose_sql(key, order, value, period)
    s1 = df.selectExpr("*", f"{trend} as trend", f"{phase} as phase")
    s2 = s1.selectExpr("*", f"{seasonal} as seasonal")
    return s2.selectExpr("*", f"(({value}) - trend - seasonal) as residual")


def pattern_spans(
    df: DataFrame,
    key: str,
    ord_col: str,
    type_col: str,
    steps: list[str],
    max_matches: int = 8,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Sequential event-pattern matching (MATCH_RECOGNIZE-lite) with
    SKIP-TILL-NEXT-MATCH semantics: per key, find earliest-first,
    NON-OVERLAPPING occurrences of the literal step sequence ``steps``
    (steps need not be adjacent; intervening events are skipped).
    Returns one row per match: ``(key, match_id, start_ord, end_ord)``,
    ``match_id`` 1-based in temporal order.

    Plan (the 100 TB shape): ONE shuffle on ``key``, then the greedy
    automaton runs entirely JVM-side as an ``aggregate`` higher-order
    function over the per-key ``sort_array(collect_list(...))`` event
    array — a linear scan with a (state, start, last, matches)
    accumulator, no Python workers, no driver coordination.  Same
    per-key-fits-in-memory contract as every ordered per-user sequence
    op in the engine.  An event is consumed iff it is the current step's
    type and strictly after the last consumed event (skip-till-next-
    match + non-overlap), exactly the semantics of the relational
    frontier-join loop (one min-aggregation join per step per match
    round, a driver action per round) that the test reference
    ``reference_pattern_spans_joins`` in tests/test_datapipe.py runs and
    pins row-identical.  Null-safe: a NULL type never equals a step
    (``<=>``), NULL ords are filtered like the join formulation's
    ``_o > _prev`` predicate would.

    ``max_events_per_key`` (optional) bounds per-key memory: each key
    keeps only its first N events in ``(ord, type)`` order before
    matching (see :func:`_trim_per_key` — spillable window sort, no
    extra exchange, prefix-stable semantics).
    """
    if max_events_per_key is not None:
        df = _trim_per_key(df, key, ord_col, type_col, max_events_per_key)
    ot = df.schema[ord_col].dataType.simpleString()
    n = len(steps)
    steps_sql = _steps_literal(steps)
    ms_t = f"array<struct<match_id:int,start_ord:{ot},end_ord:{ot}>>"
    scan = f"""
    aggregate(
      sort_array(collect_list(struct(_o, _t))),
      struct(0 as state, cast(null as {ot}) as start,
             cast(null as {ot}) as last, cast(array() as {ms_t}) as ms),
      (acc, e) -> if(
         size(acc.ms) >= {max_matches}
         or not (e._t <=> element_at({steps_sql}, acc.state + 1))
         or (acc.last is not null and e._o <= acc.last),
         acc,
         named_struct(
           'state', if(acc.state + 1 = {n}, 0, acc.state + 1),
           'start', if(acc.state = 0, e._o, acc.start),
           'last', e._o,
           'ms', if(acc.state + 1 = {n},
              array_append(acc.ms, named_struct(
                 'match_id', cast(size(acc.ms) + 1 as int),
                 'start_ord', if(acc.state = 0, e._o, acc.start),
                 'end_ord', e._o)),
              acc.ms))),
      acc -> acc.ms)
    """
    ev = df.select(
        F.col(key), F.col(ord_col).alias("_o"), F.col(type_col).alias("_t")
    ).filter(F.col("_o").isNotNull())
    return (
        ev.groupBy(key)
        .agg(F.expr(scan).alias("_ms"))
        .select(key, F.explode("_ms").alias("_m"))
        .select(key, "_m.match_id", "_m.start_ord", "_m.end_ord")
    )


def markov_transitions(
    df: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
    ord_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences:
    P(next = b | current = a) from adjacent-event counts — the classic
    behavioral model behind next-action prediction and funnel synthesis.

    One per-key window (lead over the deterministic order) + two tiny
    hash aggregates over the (from, to) type pairs; the probability is a
    single bigint/bigint double division, bitwise cross-engine.
    Returns ``(from_type, to_type, n, p)``.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in ord_cols])
    seq = df.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    # the (from, to) count table is tiny (|types|^2 rows) but feeds both
    # the result and the per-from totals — pin it once or the corpus
    # scan + lead window execute twice
    tr = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = tr.groupBy("from_type").agg(F.sum("n").alias("_t"))
    return tr.join(tot, "from_type").select(
        "from_type", "to_type", F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("_t").cast("double")).alias("p"),
    )


def ohlc_bars(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    val_col: str = "value",
    bucket: str = "hour",
    tie_col: str = "event_id",
) -> DataFrame:
    """Time-bucketed OHLC (open/high/low/close) bars per key — the
    standard downsampling for numeric event streams.  Open/close pick
    the first/last value under the deterministic (ts, tie) order via
    ``min_by``/``max_by`` on the (ts, tie) struct (lexicographic struct
    comparison = the total order; ``tie_col`` must be unique within a
    bucket, as event ids are), so the whole bar is ONE hash aggregate —
    no window, no sort, and the exchange carries map-side partial
    aggregates instead of every row (r11; the historical form paid an
    asc+desc row_number pair = 2 full sorts above the exchange, and the
    aggregate consumed the unaggregated stream; differential incl. NULL
    values at the bucket edges in tests/test_r11_opt.py — min_by/max_by
    carry a NULL value sitting at the extreme key, exactly like the
    row_number flag fold did).  Returns ``(keys..., bucket, open, close,
    high, low, n)``.
    """
    b = df.select(
        *keys,
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        F.col(val_col).cast("double").alias("_v"),
        F.col(ts_col).alias("_ts"),
        F.col(tie_col).alias("_tie"),
    )
    part = [*keys, "bucket"]
    key = F.struct(F.col("_ts"), F.col("_tie"))
    return b.groupBy(*part).agg(
        F.min_by("_v", key).alias("open"),
        F.max_by("_v", key).alias("close"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.count(F.lit(1)).alias("n"),
    )


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    ord_cols: tuple = ("ts", "event_id"),
    val_col: str | None = "value",
) -> DataFrame:
    """Batch gap-based sessionization: a session ends when the idle time
    to the next event on the same key strictly exceeds ``gap_seconds``
    (the batch counterpart of ``streaming.session_window`` — same
    half-open-gap semantics, reference run.py's per-user temporal
    bucketing generalized to activity bursts).

    Plan shape: ONE exchange on ``key``.  The lag-gap flag and the
    running-sum session index share the identical window spec (same
    partitioning + order), so Catalyst plans a single sort; the closing
    per-session aggregate groups on ``(key, session_idx)``, which hash
    partitioning on ``key`` already clusters — AQE keeps it
    exchange-free.  At 100 TB this is the minimal shape: no self-join,
    no per-session explode, session state never leaves the executor.

    Returns ``(key, session_idx, n_events, session_start, session_end,
    duration_s[, total_value])`` — ``session_idx`` is 1-based per key in
    time order.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in ord_cols])
    # microsecond-exact epoch: second-truncating casts would move events
    # across the gap boundary relative to any engine comparing full
    # precision (and sub-second gaps would be invisible entirely).
    # unix_micros only accepts TIMESTAMP; an NTZ column is reinterpreted
    # in the session zone (pinned UTC by session.tune_session) first.
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = int(gap_seconds) * 1_000_000
    brk = (
        F.when(F.lag(epoch).over(w).isNull(), F.lit(1))
        .when(epoch - F.lag(epoch).over(w) > F.lit(gap_us), F.lit(1))
        .otherwise(F.lit(0))
    )
    rows = df.withColumn("_brk", brk).withColumn(
        "session_idx",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        # integer-µs difference floor-divided to whole seconds: floor is
        # explicit because Spark's double->bigint cast truncates while
        # other engines round — floor-then-cast is exact in both
        F.floor((F.max(epoch) - F.min(epoch)) / F.lit(1_000_000.0))
        .cast("bigint")
        .alias("duration_s"),
    ]
    if val_col is not None:
        from .. import sqlgen

        aggs.append(F.expr(sqlgen.fsum(val_col)).alias("total_value"))
    return (
        rows.groupBy(F.col(key), F.col("session_idx").cast("bigint").alias("session_idx"))
        .agg(*aggs)
    )


def rfm_segments(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    buckets: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic behavioral scoring over an event log: per key, days since
    last activity, event count, and value total, each scored into
    ``buckets`` equi-depth bins (4 = best quartile), composed into the
    conventional 3-digit segment code (``444`` = champions).

    Determinism: recency is integer µs -> floor days against the GLOBAL
    max timestamp (max of the per-key maxes, an in-plan broadcast scalar
    over the aggregated table — no collect, no second scan of events);
    monetary is the fixed-point ``fsum``; each ntile orders by
    (metric, key) so ties split identically on any engine/partitioning.

    Scale: stage 1 is one partial-aggregable hash agg over events (the
    big input) down to |keys| rows.  The three scoring ntiles are GLOBAL
    windows — a deliberate single-partition sort over the small per-key
    table (fine to ~10^8 keys); past that, swap the ntile for quantile-
    edge binning via ``rollup.partial_quantiles`` (KLL) and broadcast
    the ``buckets - 1`` edges — same output contract, no global sort.
    """
    from .. import sqlgen

    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per = df.groupBy(key).agg(
        F.max(epoch).alias("_last_us"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.expr(sqlgen.fsum(val_col)).alias("monetary"),
    )
    # the global anchor is the max of the per-key maxes — a global
    # window over the tiny aggregated table, NOT a second scan of the
    # events input (and not a checkpointed side branch, which costs an
    # extra synchronous job): the scoring ntiles below already move
    # this |keys|-row table to a single partition, so the anchor max
    # rides the same collapse for free
    anchor_w = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = per.withColumn("_anchor_us", F.max("_last_us").over(anchor_w)).withColumn(
        "recency_days",
        F.floor(
            (F.col("_anchor_us") - F.col("_last_us")) / F.lit(86400.0 * 1_000_000)
        ).cast("bigint"),
    )
    wr = Window.orderBy(F.col("recency_days").asc(), F.col(key).asc())
    wf = Window.orderBy(F.col("frequency").asc(), F.col(key).asc())
    wm = Window.orderBy(F.col("monetary").asc(), F.col(key).asc())
    b = int(buckets)
    scored = per.select(
        key,
        "recency_days",
        "frequency",
        "monetary",
        # most recent (smallest recency) = best score b
        (F.lit(b + 1) - F.ntile(b).over(wr)).cast("int").alias("r_score"),
        F.ntile(b).over(wf).cast("int").alias("f_score"),
        F.ntile(b).over(wm).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("int"),
    )


def top_paths(
    df: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
    ord_cols: tuple = ("ts", "event_id"),
    steps: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k most frequent ``steps``-long event-type paths across all
    per-key sequences — the path-analysis complement of
    :func:`markov_transitions` (which models single transitions): which
    WHOLE journeys dominate.

    Plan: one per-key window with ``steps - 1`` stacked leads (one sort,
    shared spec), one hash count over the path tuples (map-side
    partials), then the global top-k as sort+limit — Spark plans it as
    TakeOrderedAndProject (per-task size-k heaps, driver merges k rows
    per task), so a high-cardinality ``type_col`` (path table up to
    |types|^steps rows) can never silently converge the whole count
    table on one task the way a global row_number window would
    (VERDICT r5 item 6).  The rank window after the limit runs over at
    most ``k`` rows by construction.  Ties break on the path itself so
    the selection is deterministic on any engine.  Returns
    ``(path, n, rank)``.
    """
    if steps < 2:
        raise ValueError(f"steps must be >= 2, got {steps}")
    if k <= 0 or k > 1_000_000:
        # the post-limit rank window is single-partition over k rows;
        # a driver-scale k is a misuse of a top-k operator, not a knob
        raise ValueError(f"k must be in [1, 1_000_000], got {k}")
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in ord_cols])
    cols = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, steps)
    ]
    paths = df.select(F.concat_ws(" > ", *cols).alias("path"), cols[-1].alias("_last"))
    counted = (
        paths.filter(F.col("_last").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counted.orderBy(F.col("n").desc(), F.col("path").asc()).limit(k)
    wr = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return top.withColumn("rank", F.row_number().over(wr).cast("int"))


GAP_BUCKETS_US = [
    (1_000_000, "lt_1s"),
    (10_000_000, "lt_10s"),
    (60_000_000, "lt_1m"),
    (600_000_000, "lt_10m"),
    (3_600_000_000, "lt_1h"),
    (86_400_000_000, "lt_1d"),
]


def gap_histogram(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    ord_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """Histogram of per-key inter-event idle gaps over log-scale time
    buckets (<1s … <1d, >=1d) — the data-driven way to choose
    ``sessionize``'s ``gap_seconds``: the session boundary belongs in
    the valley between the within-burst mode and the between-visit
    mode of this distribution.

    One exchange on ``key`` (the lag window), then one tiny hash count
    over at most 7 bucket rows — integer µs thresholds end to end, so
    counts are bitwise on any engine.  Returns ``(bucket, n)``.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in ord_cols])
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    bucket = F.when(F.lit(False), F.lit(""))
    for limit, name in GAP_BUCKETS_US:
        bucket = bucket.when(gap < F.lit(limit), F.lit(name))
    bucket = bucket.otherwise(F.lit("ge_1d"))
    return (
        df.select(bucket.alias("bucket"), gap.alias("_g"))
        .filter(F.col("_g").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def lag_autocorr(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    lag: int = 1,
) -> DataFrame:
    """Per-key lag-``lag`` autocorrelation of a value series: Pearson r
    over the (x_{t-lag}, x_t) pairs ordered by ``order_cols`` — the
    standard burstiness / momentum screen over per-entity time series
    (a high |r| flags autocorrelated spend or machine-generated event
    streams; extends the reference's per-user temporal aggregations,
    /root/reference/run.py:335-430, with a second-order statistic).

    Determinism: the correlation is computed from exact decimal moment
    sums via :func:`sqlgen.corr_from_pairs` (one shared scalar fragment
    in both engines) — order-insensitive, partitioning-independent,
    bitwise cross-engine.  NULL when the series is constant (0 variance,
    pandas ``autocorr`` would give NaN) or has < 2 pairs worth of
    variation.

    Scale shape: ONE hash exchange on ``key_col`` — the lag window
    partitions by key, and the per-key aggregate reuses the same
    partitioning (no second exchange).  Keys with <= ``lag`` events
    produce no pairs and drop out, like pandas ``Series.autocorr`` on a
    too-short series.
    """
    from .. import sqlgen

    if lag < 1:
        raise ValueError(f"lag_autocorr: lag must be >= 1, got {lag}")
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    pairs = (
        df.select(key_col, *order_cols, F.col(value_col).alias("_y"))
        .withColumn("_x", F.lag("_y", lag).over(w))
        .filter(F.col("_x").isNotNull())
    )
    return pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr(sqlgen.corr_from_pairs("_x", "_y")).alias("autocorr"),
    )


def trend_slope(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    anchor_epoch_seconds: int = 1704067200,  # 2024-01-01T00:00:00Z
) -> DataFrame:
    """Per-key OLS trend of a value series over time: least-squares
    ``value ~ hours_since_anchor`` — the drift/trend screen per entity
    (rising spend, decaying engagement) that complements
    :func:`lag_autocorr`'s second-order statistic.

    ``x`` is WHOLE hours since the fixed anchor (:func:`functions.
    temporal.hours_since` — integer, so its decimal cast is exact and
    the moment sums stay inside the cross-engine bit-parity domain;
    sub-hour ordering does not affect an OLS fit's sums at all, since
    they are order-insensitive).  The anchor is a parameter, not a
    data-dependent collect — no build-time job; pick one near the
    corpus epoch so x magnitudes stay small.

    Determinism: slope/intercept come from exact decimal moment sums via
    :func:`sqlgen.ols_from_pairs` (one shared fragment, bitwise both
    engines).  Constant-x keys (all events in one hour) yield NULL.

    Scale shape: a narrow projection then ONE hash aggregate on
    ``key_col`` with map-side partials — no window, no join, one
    exchange.
    """
    from .. import sqlgen
    from ..functions.temporal import hours_since

    slope, intercept = sqlgen.ols_from_pairs("_x", "_y")
    pairs = df.select(
        key_col,
        hours_since(F.col(ts_col), anchor_epoch_seconds)
        .cast("double")
        .alias("_x"),
        F.col(value_col).alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    return pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(slope).alias("slope_per_hour"),
        F.expr(intercept).alias("intercept"),
    )


def cusum_drift(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """Per-key one-sided CUSUM drift statistic: how far the series'
    running sum ever climbs above its own-mean trend — the standard
    changepoint/level-shift screen (Page 1954).  ``cusum_max =
    max_t S_t`` with the clamped recurrence ``S_t = max(0, S_{t-1} +
    (x_t - mu))`` computed via the prefix identity ``S_t = C_t -
    min(0, min_{j<=t} C_j)`` where ``C_t = cumsum(x) - t * mu`` (the 0
    term is the empty prefix ``C_0 = 0``) — pure window algebra, NO
    per-row fold or UDF.

    Determinism: the cumsum is the exact decimal ``sqlgen.wcumsum``;
    ``mu`` is the exact per-key decimal mean; the drift line ``t * mu``
    and the running-min subtraction are textually identical scalar SQL
    in both engines — bitwise cross-engine.

    Scale shape: ONE hash exchange on ``key_col``; all three windows
    and the final aggregate share its partitioning (the ordered windows
    share one sort).  Returns ``(key_col, n, cusum_max)``; keys with a
    flat series report 0.0.

    CONTRACT (ADVICE r10): ``order_cols`` must be a TOTAL order within
    each key (the default ``(ts, event_id)`` is — event_id is unique).
    The running-min window orders by the raw columns so it shares the
    cumsum's sort; with ties the ROWS-frame prefix min would become
    tie-order-dependent (exactly like the cumsum ``_c`` itself already
    was), so a non-unique ``order_cols`` caller loses cross-engine
    bitwise parity in BOTH expressions, not just the r10-elided sort.
    """
    from .. import sqlgen

    ord_sql = ", ".join(order_cols)
    prepared = df.filter(
        F.col(value_col).isNotNull()
    ).select(
        key_col, *order_cols, F.col(value_col).cast("double").alias("_v")
    )
    scored = prepared.selectExpr(
        key_col,
        *order_cols,
        f"row_number() over (partition by {key_col} order by {ord_sql}) as _t",
        f"{sqlgen.wcumsum('_v', key_col, ord_sql)} as _c",
        f"{sqlgen.wdsum('_v', key_col)} as _su",
        f"count(*) over (partition by {key_col}) as _n",
    )
    drifted = scored.selectExpr(
        key_col, *order_cols, "(_c - _t * (_su / _n)) as _d"
    )
    # the running-min window orders by the ORIGINAL order columns, not
    # the derived _t rank: (ts, event_id) is already a total order per
    # key (_t is literally its row_number), so the values are identical
    # — but ordering by _t planned a SECOND full Sort above the first
    # window's (key, ts, event_id) sort, which ordering by the same
    # columns elides (r10: plan 2 Sorts -> 1, one exchange unchanged;
    # plans/r10/an_cusum_{before,after}.txt).
    s = drifted.selectExpr(
        key_col,
        f"(_d - least(cast(0 as double), min(_d) over (partition by {key_col} "
        f"order by {ord_sql} rows between unbounded preceding and current row))) as _s",
    )
    return s.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"), F.max("_s").alias("cusum_max")
    )


def holt_linear(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Per-key Holt linear-trend exponential smoothing (Holt 1957): the
    two-state recurrence ``l_t = a*x_t + (1-a)*(l + b);
    b_t = B*(l_t - l) + (1-B)*b`` folded oldest->newest over each key's
    series, initialized ``l_0 = x_0, b_0 = 0``.  Returns the final
    ``(level, trend)`` plus ``forecast_next = level + trend`` — the
    streaming-friendly forecasting primitive one step up from EWMA
    (which is the beta=0 special case).

    Determinism: an ARRAY-accumulator left fold (acc = [level, trend])
    over the (order_cols)-sorted series — both engines evaluate the
    identical IEEE recurrence in the identical order (DuckDB
    ``list_reduce`` over [x, 0]-lifted elements starts from the first
    element, mirrored here by slice-from-2 + element_at-1 init), so
    results are bitwise cross-engine.  The accumulator is an ARRAY, not
    a struct, deliberately: DuckDB 1.0 evaluates a struct-literal
    lambda's fields SEQUENTIALLY against the mutating accumulator (the
    second field sees the first field already updated — found by the
    parity test), while list literals evaluate all elements from the
    pre-step accumulator like Spark's pure expressions.  Scale shape:
    ONE exchange (the per-key collect); per-key state is the array —
    same envelope as the W4/W7 sequence operators.
    """
    a, b1 = float(alpha), float(beta)
    xs = F.transform(
        F.sort_array(
            F.collect_list(F.struct(*[F.col(c) for c in order_cols],
                                    F.col(value_col).alias("_v")))
        ),
        lambda s: s["_v"].cast("double"),
    )
    grouped = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"), xs.alias("_xs"))
    )

    def step(acc, x):
        new_l = F.lit(a) * x + F.lit(1.0 - a) * (acc[0] + acc[1])
        new_b = F.lit(b1) * (new_l - acc[0]) + F.lit(1.0 - b1) * acc[1]
        return F.array(new_l, new_b)

    init = F.array(F.element_at(F.col("_xs"), 1), F.lit(0.0))
    st = F.aggregate(
        F.slice(F.col("_xs"), 2, F.greatest(F.size("_xs") - 1, F.lit(0))),
        init,
        step,
    )
    return grouped.select(
        key_col,
        F.col("n").cast("bigint").alias("n"),
        st[0].alias("level"),
        st[1].alias("trend"),
        (st[0] + st[1]).alias("forecast_next"),
    )
