"""Shared SQL fragments used by BOTH engines.

The driver's t2 gate hash-compares Spark results against DuckDB results.
Plain double aggregates (sum/avg/stddev) are order-dependent, so two
correct engines produce last-ulp-different answers.  Strategy:

- Sums route through an exact DECIMAL(38,6): associative, partitioning-
  independent, bit-identical in any engine (``dsum``).
- Derived statistics (mean/var/std/sem/skew) are computed from those exact
  moment sums with *textually identical* scalar SQL in both engines —
  identical parse tree => identical IEEE-754 double ops => identical bits.
- Exact ``percentile`` (Spark) and ``quantile_cont`` (DuckDB) were verified
  bitwise-equal (both sort + linearly interpolate), so medians/percentiles
  with constant fractions use the builtins.

These fragments are not just test plumbing: decimal-exact sums are the
engine's scale-stable aggregation mode (run-to-run reproducible at 100 TB
regardless of task scheduling), and the Spark plans build them from this
same text.  This module is also the one definition of the A10/A11
statistics: their fragments, their column names (``MOMENT_COLS``,
``HSTAT_COLS``) and the intermediate columns A11 drops; and of A7's
dynamic-percentile rank interpolation (``DYN_PERCENTILE_*``).
"""

from __future__ import annotations

import numbers

DEC = "decimal(38,6)"


def dec_to_double(e: str) -> str:
    """Exact-decimal -> double conversion that is bitwise identical in
    Spark and DuckDB.

    A plain ``cast(decimal as double)`` diverges between engines once the
    scaled integer exceeds 2^53: Spark converts the decimal VALUE with one
    correct rounding (BigDecimal), DuckDB converts scaled-int -> double ->
    / 10^scale (two roundings).  Split the value into an integral part
    (cast through decimal(38,0) — a pure int->double, correctly rounded in
    both) and a fractional part (tiny scaled int, exact in both), then add:
    identical operands => identical IEEE sum.  ``%`` follows the dividend's
    sign in both engines, so negatives split consistently too.

    DuckDB's int128->double conversion goes through 64-bit halves
    (upper*2^64 + lower), which double-rounds whenever that split is
    inexact.  Found by hypothesis: for NEGATIVE integral parts past 2^53
    the split is upper=-1 / lower=2^64-|v| — lower alone overflows the
    53-bit mantissa, so even int64-range negatives came back 1 ulp off.
    Converting ``abs(ipart)`` instead keeps upper=0 / lower=|v| — a single
    correct uint64 rounding — and reapplying the sign by multiplying with
    a double ±1 is exact; round-to-nearest is symmetric, so Spark's
    direct single-rounding path produces the identical bits.  This makes
    the conversion correctly rounded for |integral part| < 2^64.

    Known domain bound: above 2^64 the abs value itself needs both
    halves, DuckDB double-rounds, and cross-engine agreement degrades to
    within 1 ulp for |value| >~ 1.8e19 — still deterministic per engine,
    and the t2 gate compares on fixed sf0.01 data where all exposed sums
    agree; for guaranteed bit-parity keep aggregate magnitudes below 2^64.

    ``cast(-1 as double)`` not ``-1.0``: Spark parses a bare ``1.0``
    literal as DECIMAL(2,1), which would re-widen the product to decimal.
    """
    ip = f"abs(cast(({e}) - (({e}) % 1) as decimal(38,0)))"
    sign = f"(case when ({e}) < 0 then cast(-1 as double) else cast(1 as double) end)"
    return f"({sign} * cast({ip} as double) + cast(({e}) % 1 as double))"


def dsum(x: str, alias: str | None = None) -> str:
    e = dec_to_double(f"sum(cast(({x}) as {DEC}))")
    return f"{e} as {alias}" if alias else e


def davg(x: str, alias: str | None = None) -> str:
    e = f"({dsum(x)} / count({x}))"
    return f"{e} as {alias}" if alias else e


def dsum_cast(x: str, alias: str | None = None) -> str:
    """Spark-only exact sum: the same decimal sum and integral/fractional
    split as ``dsum``, with a plain signed cast of the integral part.
    Spark rounds that cast once, so the bits equal ``dsum``'s; DuckDB
    double-rounds negative integral parts past 2^53 (see
    ``dec_to_double``), so oracle SQL uses ``dsum``."""
    s = f"sum(cast(({x}) as {DEC}))"
    e = f"(cast(cast({s} - ({s} % 1) as decimal(38,0)) as double) + cast({s} % 1 as double))"
    return f"{e} as {alias}" if alias else e


def ident(name: str) -> str:
    """Spark SQL backtick-quoted identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def lit(v) -> str:
    """Spark SQL text of an int or string literal that parses to the same
    typed literal as ``F.lit(v)``: an int is INT within int32 and BIGINT
    past it; a string is single-quoted with backslash escapes (Spark's
    default ``spark.sql.parser.escapedStringLiterals=false``)."""
    if isinstance(v, numbers.Integral):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal rendering for {type(v).__name__}: {v!r}")


def _fparts(x: str) -> tuple[str, str]:
    """Integer (hi) and micro-unit-remainder (lo) fixed-point parts of a
    double, both bigint, both bitwise identical in Spark and DuckDB."""
    hi = f"cast(floor(({x}) + cast(0.5 as double)) as bigint)"
    rem = f"(({x}) - cast({hi} as double))"
    lo = f"cast(floor({rem} * cast(1000000 as double) + cast(0.5 as double)) as bigint)"
    return hi, lo


def fsum(x: str, alias: str | None = None) -> str:
    """Fast deterministic sum: fixed-point long accumulation at 1e-6
    resolution, ~5x faster than ``dsum`` and still bitwise identical in
    both engines.

    ``dsum``'s decimal(38,6) path pays a per-row double->BigDecimal cast
    (Spark's compact-long Decimal fast path never applies to a cast FROM
    double), measured 5x slower than a plain double sum on a scan-bound
    aggregate.  Here each value splits into two BIGINTs instead:

      hi  = floor(x + 0.5)                 (nearest integer, ties -> +inf)
      lo  = floor((x - hi) * 1e6 + 0.5)    (remainder in micro-units)

    and the result is  sum(hi) + sum(lo)/1e6  recombined in double.
    Every step is engine-stable: floor is exact; x - hi is exact
    (Sterbenz); the tie set of ``floor(v + 0.5)`` is identical in both
    engines because a double whose shortest repr ends in .5 IS that .5;
    int64->double casts round correctly once in both; and the final
    divide/add are textually identical IEEE ops.  Property-tested against
    DuckDB on adversarial inputs (ties, negatives, 1e9 magnitudes) in
    ``tests/test_hypothesis_stats.py``.

    Semantics: values are quantized at 1e-6 before summing (like dsum's
    decimal(38,6) cast, modulo tie direction), so this is the engine's
    scan-heavy aggregation mode — partitioning-independent and
    reproducible at any cluster layout.  Overflow bound: |sum(hi)| needs
    n * max|x| < 9.2e18 and |sum(lo)| needs n * 5e5 < 9.2e18 — at 100 TB
    (6e11 lineitem rows, values < 1e7) both hold with >100x headroom;
    for unbounded magnitudes use ``dsum`` (decimal never overflows
    first).
    """
    hi, lo = _fparts(x)
    e = (
        f"(cast(cast(sum({hi}) as bigint) as double) + "
        f"cast(cast(sum({lo}) as bigint) as double) / cast(1000000 as double))"
    )
    return f"{e} as {alias}" if alias else e


def favg(x: str, alias: str | None = None) -> str:
    e = f"({fsum(x)} / count({x}))"
    return f"{e} as {alias}" if alias else e


def fsum_state(x: str, prefix: str) -> list[str]:
    """Mergeable fixed-point sum STATE (hi/lo int64 partial sums).

    Unlike a finished double sum, the integer state is exactly mergeable
    in any order/grouping: re-aggregating partials with ``fsum_merge``
    and finishing with ``fsum_final`` is bit-identical to a single global
    ``fsum`` — the table-level analogue of Spark's internal partial
    aggregation, used for incremental rollup maintenance."""
    hi, lo = _fparts(x)
    return [
        f"cast(sum({hi}) as bigint) as {prefix}_hi",
        f"cast(sum({lo}) as bigint) as {prefix}_lo",
    ]


def fsum_merge(prefix: str) -> list[str]:
    """Re-aggregate fixed-point partial states (exact int64 sums)."""
    return [
        f"cast(sum({prefix}_hi) as bigint) as {prefix}_hi",
        f"cast(sum({prefix}_lo) as bigint) as {prefix}_lo",
    ]


def fsum_final(prefix: str, alias: str | None = None) -> str:
    """Finish a fixed-point state into the double total (same
    recombination ops as ``fsum``, so merged == recomputed bitwise)."""
    e = (
        f"(cast({prefix}_hi as double) + "
        f"cast({prefix}_lo as double) / cast(1000000 as double))"
    )
    return f"{e} as {alias}" if alias else e


#: The columns ``moment_stats`` emits for a prefix, in order: the
#: reference's ``.agg(['mean','std','min','max','median','sem','skew',
#: 'var','sum'])`` plus count and amplitude (A10, run.py:428-430).
MOMENT_COLS = [
    "n", "mean", "median", "min", "max", "std", "sem", "skew", "var", "sum", "amplitude",
]


def moment_stats(
    x: str, prefix: str, percentile_fn: str, in_prec: int = 12, in_scale: int = 2
) -> list[str]:
    """n/mean/median/min/max/std/sem/skew/var/total/amplitude over ``x``.

    pandas semantics (SURVEY §7.4.2): ddof=1 for std/var/sem, adjusted
    Fisher-Pearson G1 skew (the reference's ``.agg(['mean','std',...])`` at
    /root/reference/run.py:428-430).  All float math derives from exact
    decimal moment sums so both engines agree bitwise.

    Powers are computed IN DECIMAL: the input is cast once to
    ``decimal(in_prec, in_scale)`` (engines agree on that cast as long as
    ulp(x) << 10^-in_scale; squares/cubes in double get big enough that
    Spark's shortest-string-repr decimal cast and DuckDB's binary-value
    rounding diverge — observed on 1e11-magnitude squares), then squared /
    cubed with exact integer decimal arithmetic.  ``in_prec`` must satisfy
    3*in_prec + 2 <= 38 + 2*in_scale so the cube fits Spark's precision
    propagation (default (12,2) covers |x| < 1e10 at cent resolution).

    ``percentile_fn``: "percentile" (Spark) or "quantile_cont" (DuckDB).
    """
    n = f"count({x})"
    q = f"cast(({x}) as decimal({in_prec},{in_scale}))"
    # explicit intermediate widths: DuckDB evaluates decimal products at
    # the inputs' storage width (int64 overflow on the cube) unless the
    # intermediate is cast up; Spark's (12,2)x(12,2)->(25,4)->(38,6)
    # propagation makes the same casts no-ops.  Scales add at each step so
    # nothing is rounded — pure integer math, bitwise equal in both.
    q2 = f"cast({q} * {q} as decimal(25,{2 * in_scale}))"
    q3 = f"cast({q2} * {q} as decimal(38,{3 * in_scale}))"
    s1 = dec_to_double(f"sum({q})")
    s2 = dec_to_double(f"sum({q2})")
    s3 = dec_to_double(f"sum({q3})")
    mean = f"({s1} / {n})"
    # sample variance via exact sums; nullif guards n=1 (pandas: NaN);
    # the case-clamp guards a cancellation-negative tiny variance so sqrt
    # never sees a negative (engines disagree on sqrt(<0)).
    var = f"(({s2} - {s1} * {s1} / {n}) / nullif({n} - 1, 0))"
    var_c = f"(case when {var} < 0 then 0.0 else {var} end)"
    std = f"sqrt({var_c})"
    sem = f"({std} / sqrt({n}))"
    m2 = f"({s2} / {n} - {mean} * {mean})"
    m3 = f"({s3} / {n} - 3 * {mean} * {s2} / {n} + 2 * {mean} * {mean} * {mean})"
    skew = (
        f"(case when {n} >= 3 and {m2} > 0 then "
        f"({m3} / ({m2} * sqrt({m2}))) * sqrt(cast({n} * ({n} - 1) as double)) / ({n} - 2) "
        f"end)"
    )
    exprs = [
        n, mean, f"{percentile_fn}({x}, 0.5)", f"min({x})", f"max({x})",
        std, sem, skew, var, s1, f"(max({x}) - min({x}))",
    ]
    return [f"{e} as {prefix}_{c}" for e, c in zip(exprs, MOMENT_COLS, strict=True)]


def dprod_sum(
    x: str, y: str, alias: str | None = None, in_prec: int = 12, in_scale: int = 2
) -> str:
    """Exact decimal cross-moment sum ``sum(x * y)`` -> double.

    Same idiom as ``moment_stats``'s powers: each factor is cast once to
    ``decimal(in_prec, in_scale)`` (exact while ulp(x) << 10^-in_scale),
    the product is widened explicitly to ``decimal(25, 2*in_scale)`` (a
    no-op in Spark's precision propagation, an int128 upcast for DuckDB),
    and the sum converts through :func:`dec_to_double` — pure integer
    arithmetic, bitwise identical in both engines and order-insensitive
    at any partitioning."""
    qx = f"cast(({x}) as decimal({in_prec},{in_scale}))"
    qy = f"cast(({y}) as decimal({in_prec},{in_scale}))"
    p = f"cast({qx} * {qy} as decimal(25,{2 * in_scale}))"
    e = dec_to_double(f"sum({p})")
    return f"{e} as {alias}" if alias else e


def corr_from_pairs(x: str, y: str, in_prec: int = 12, in_scale: int = 2) -> str:
    """Pearson correlation of non-null (x, y) pairs from exact decimal
    moment sums — one scalar fragment, textually identical in both
    engines, so every IEEE op matches bitwise.

    ``r = (Sxy - Sx*Sy/n) / (sqrt(Sxx - Sx^2/n) * sqrt(Syy - Sy^2/n))``
    with the two variance terms case-clamped at 0 (cancellation can go
    a hair negative and engines disagree on sqrt(<0)) and the
    denominator nullif-guarded (constant series => NULL, like pandas).
    Callers must pre-filter rows so both columns are non-null — count()
    is used as the pair count."""
    n = f"count({x})"
    sx = dec_to_double(f"sum(cast(({x}) as decimal({in_prec},{in_scale})))")
    sy = dec_to_double(f"sum(cast(({y}) as decimal({in_prec},{in_scale})))")
    sxy = dprod_sum(x, y, in_prec=in_prec, in_scale=in_scale)
    sxx = dprod_sum(x, x, in_prec=in_prec, in_scale=in_scale)
    syy = dprod_sum(y, y, in_prec=in_prec, in_scale=in_scale)
    cov = f"({sxy} - {sx} * {sy} / {n})"
    vx = f"({sxx} - {sx} * {sx} / {n})"
    vy = f"({syy} - {sy} * {sy} / {n})"
    vxc = f"(case when {vx} < 0 then 0.0 else {vx} end)"
    vyc = f"(case when {vy} < 0 then 0.0 else {vy} end)"
    return f"({cov} / nullif(sqrt({vxc}) * sqrt({vyc}), 0))"


def ols_from_sums(n: str, sx: str, sy: str, sxy: str, sxx: str) -> tuple[str, str]:
    """Least-squares ``(slope, intercept)`` scalar SQL from already-
    deterministic moment sums (exact decimal or fixed-point — any
    fragments whose VALUES are engine-identical doubles).

    ``slope = (Sxy - Sx*Sy/n) / (Sxx - Sx^2/n)``; the variance term is
    case-clamped at 0 (deterministic sums can still cancel a hair
    negative in the double subtraction) and nullif-guarded, so a
    constant-x series yields NULL slope and intercept."""
    cov = f"({sxy} - {sx} * {sy} / {n})"
    vx = f"({sxx} - {sx} * {sx} / {n})"
    vxc = f"(case when {vx} < 0 then 0.0 else {vx} end)"
    slope = f"({cov} / nullif({vxc}, 0))"
    intercept = f"(({sy} - {slope} * {sx}) / {n})"
    return slope, intercept


def ols_from_pairs(
    x: str, y: str, in_prec: int = 12, in_scale: int = 2
) -> tuple[str, str]:
    """Least-squares ``(slope, intercept)`` of y on x from exact decimal
    moment sums — textually identical scalar SQL in both engines.  Same
    pre-filtered-non-null-pairs contract as :func:`corr_from_pairs`."""
    n = f"count({x})"
    sx = dec_to_double(f"sum(cast(({x}) as decimal({in_prec},{in_scale})))")
    sy = dec_to_double(f"sum(cast(({y}) as decimal({in_prec},{in_scale})))")
    sxy = dprod_sum(x, y, in_prec=in_prec, in_scale=in_scale)
    sxx = dprod_sum(x, x, in_prec=in_prec, in_scale=in_scale)
    return ols_from_sums(n, sx, sy, sxy, sxx)


def wcumsum(x: str, partition: str, order: str) -> str:
    """Deterministic running sum (W1): decimal window sum cast to double."""
    return dec_to_double(
        f"sum(cast(({x}) as {DEC})) over "
        f"(partition by {partition} order by {order} "
        f"rows between unbounded preceding and current row)"
    )


def wdsum(x: str, partition: str) -> str:
    """Whole-partition deterministic sum as a window (A12/A13 pre-pivot)."""
    return dec_to_double(f"sum(cast(({x}) as {DEC})) over (partition by {partition})")


def wrollsum(x: str, partition: str, order: str, n: int) -> str:
    """Rolling decimal-exact sum over the trailing ``n`` rows (current
    row inclusive) — deterministic sliding-window aggregation."""
    return dec_to_double(
        f"sum(cast(({x}) as {DEC})) over "
        f"(partition by {partition} order by {order} "
        f"rows between {n - 1} preceding and current row)"
    )


def wrollcount(x: str, partition: str, order: str, n: int) -> str:
    return (
        f"count({x}) over (partition by {partition} order by {order} "
        f"rows between {n - 1} preceding and current row)"
    )


def minmax_window(x: str, partition: str) -> str:
    """Per-group min-max scaling to [0, 1]; constant groups -> NULL
    (nullif guards 0/0, where engines disagree on NaN vs error)."""
    mn = f"min({x}) over (partition by {partition})"
    mx = f"max({x}) over (partition by {partition})"
    return f"((({x}) - {mn}) / nullif({mx} - {mn}, 0))"


# A11 ``get_stats``' amplitudes and ratios (run.py:207-234) as
# (name, left moment, operator, right moment).
_HSTAT_DERIVED = [
    ("amplitude1", "max", "-", "min"),
    ("amplitude2", "max", "-", "median"),
    ("amplitude3", "max", "-", "mean"),
    ("amplitude4", "median", "-", "min"),
    ("amplitude5", "mean", "-", "min"),
    ("divmm1", "max", "/", "min"),
    ("divmm2", "max", "/", "mean"),
    ("divmm3", "max", "/", "median"),
    ("divmm4", "mean", "/", "min"),
    ("divmm5", "median", "/", "min"),
]

#: The ``moment_stats`` columns A11 computes from but does not output.
HSTAT_DROPPED = ["n", "sum", "amplitude"]

#: The columns A11 outputs per family prefix, in order.
HSTAT_COLS = [c for c in MOMENT_COLS if c not in HSTAT_DROPPED] + [
    name for name, *_ in _HSTAT_DERIVED
]


def hstat_derived(prefix: str) -> list[str]:
    """The amplitude/ratio fragments of A11 over the ``moment_stats``
    columns of family ``prefix``."""
    p = prefix
    return [f"({p}_{a} {op} {p}_{b}) as {p}_{name}" for name, a, op, b in _HSTAT_DERIVED]


def horizontal_stats_sql(long_sql: str, key: str, val: str, prefix: str) -> str:
    """Oracle-side A11 ``get_stats``: stats + amplitudes + ratios over the
    positive cells of a long-form pivot block (run.py:207-234), matching
    ``operators.gstats.horizontal_stats`` bit-for-bit."""
    p = prefix
    masked = f"(case when {val} > 0 then {val} end)"
    frags = moment_stats(masked, p, percentile_fn="quantile_cont")
    keep = [f for f, c in zip(frags, MOMENT_COLS) if c not in HSTAT_DROPPED]
    final = ", ".join(
        f"coalesce(cast({p}_{c} as double), cast(0 as double)) as {p}_{c}" for c in HSTAT_COLS
    )
    return f"""
select {key}, {final} from (
  select *, {', '.join(hstat_derived(p))} from (
    select {key}, {', '.join(keep)} from ({long_sql}) group by {key}
  )
)
"""


# A7's dynamic percentiles (run.py:49-58): per group, the tail fraction is
# q = clamp(n / cnt, 0, 1), and the bounds are the numpy linear-interpolation
# quantiles at q and 1 - q, plus the median.  Spark's builtin percentile
# needs a foldable fraction, so the quantiles are read off a ranked frame
# carrying the value ``_v``, its 0-based rank ``_rk`` among the group's
# non-NULL values and their count ``_cnt``.  The stages, in order:
# ``dyn_percentile_frac`` adds ``_q``; ``DYN_PERCENTILE_TARGETS`` adds the
# target positions t = (_cnt - 1) * q; ``DYN_PERCENTILE_AGGS`` (grouped by
# the keys) takes cnt and, per target, the values at ranks floor(t) and
# floor(t) + 1 with the fraction t - floor(t); ``DYN_PERCENTILE_FINAL``
# interpolates lo + (hi - lo) * frac.  Both engines run this text.
# Per target: (alias, quantile, output column).
_DYN_TARGETS = [("lo", "_q", "p_lo"), ("hi", "(1.0 - _q)", "p_hi"), ("md", "0.5", "p_median")]


def dyn_percentile_frac(n: int) -> str:
    """``_q = clamp(n / _cnt, 0, 1)``.  A group of only NULL values
    (``_cnt = 0``) gets 1.0 instead of a division by zero."""
    return (
        f"case when _cnt = 0 then cast(1.0 as double) "
        f"when cast({n} as double) / _cnt > 1.0 then 1.0 "
        f"else cast({n} as double) / _cnt end as _q"
    )


DYN_PERCENTILE_TARGETS = [f"(_cnt - 1) * {q} as _t_{a}" for a, q, _ in _DYN_TARGETS]


def _rank_pick(a: str) -> list[str]:
    k = f"cast(floor(_t_{a}) as bigint)"
    return [
        f"max(case when _rk = {k} then _v end) as _{a}_lo",
        f"max(case when _rk = {k} + 1 then _v end) as _{a}_hi",
        f"max(_t_{a} - {k}) as _{a}_frac",
    ]


DYN_PERCENTILE_AGGS = ["max(_cnt) as cnt"] + [f for a, _, _ in _DYN_TARGETS for f in _rank_pick(a)]

DYN_PERCENTILE_FINAL = [
    f"(case when _{a}_hi is null then _{a}_lo "
    f"else _{a}_lo + (_{a}_hi - _{a}_lo) * _{a}_frac end) as {out}"
    for a, _, out in _DYN_TARGETS
]


def zscore_pop(x: str, partition: str) -> str:
    """W3: per-group z-score with POPULATION std (sklearn StandardScaler,
    ddof=0 — /root/reference/run.py:113-115), from exact windowed moment
    sums.  Same text runs in Spark and DuckDB => bitwise-equal."""
    n = f"count({x}) over (partition by {partition})"
    s1 = wdsum(x, partition)
    s2 = wdsum(f"({x}) * ({x})", partition)
    mean = f"({s1} / {n})"
    var = f"({s2} / {n} - {mean} * {mean})"
    var_c = f"(case when {var} < 0 then 0.0 else {var} end)"
    return f"((({x}) - {mean}) / sqrt({var_c}))"


def wrangesum(x: str, partition: str, epoch_order: str, window_sec: int) -> str:
    """Time-range trailing sum: decimal-exact sum over rows whose order
    value (epoch seconds) lies within the last ``window_sec`` seconds,
    current row inclusive — a numeric RANGE frame, identical text in
    Spark and DuckDB."""
    return dec_to_double(
        f"sum(cast(({x}) as {DEC})) over "
        f"(partition by {partition} order by {epoch_order} "
        f"range between {window_sec} preceding and current row)"
    )


def wrangecount(x: str, partition: str, epoch_order: str, window_sec: int) -> str:
    return (
        f"count({x}) over (partition by {partition} order by {epoch_order} "
        f"range between {window_sec} preceding and current row)"
    )


def md5_bucket(x: str, n_buckets: int, salt: str = "") -> str:
    """Hashing-trick bucket in ``[0, n_buckets)`` — textually identical
    and value-identical in Spark and DuckDB (the md5 cross-engine hash
    family: both engines emit the same lowercase hex digest and share
    instr/substr semantics).

    Uses the first 4 hex nibbles (16 bits) positionally decoded via
    ``instr`` — neither engine shares a hex->int builtin (Spark ``conv``
    has no DuckDB twin), so the nibbles decode by character lookup.
    Stringification is ``x || ''`` (portable; Spark rejects
    length-less ``cast(.. as varchar)``) — use on string/integer
    columns, where both engines render identical text.
    Requires ``n_buckets <= 65536``; the modulo keeps a <=1/65536 bias
    for non-power-of-two sizes.  NULL input -> NULL bucket.
    """
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    h = f"md5({salt!r} || (({x}) || ''))" if salt else f"md5(({x}) || '')"
    nib = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    n1, n2, n3, n4 = (nib.format(h=h, i=i) for i in (1, 2, 3, 4))
    return f"cast(((({n1}) * 4096 + ({n2}) * 256 + ({n3}) * 16 + ({n4})) % {n_buckets}) as int)"


def hex_to_int(hexpr: str, nibbles: int = 8) -> str:
    """Decode the first ``nibbles`` lowercase-hex chars of ``hexpr`` into
    a BIGINT — the cross-engine hex->int (Spark ``conv`` has no DuckDB
    twin, so nibbles decode by ``instr`` character lookup like
    ``md5_bucket``).  ``nibbles <= 15`` keeps the value inside int64."""
    if not 1 <= nibbles <= 15:
        raise ValueError(f"nibbles must be in [1, 15], got {nibbles}")
    terms = " + ".join(
        f"cast(instr('0123456789abcdef', substr({hexpr}, {i + 1}, 1)) - 1 as bigint)"
        f" * cast({16 ** (nibbles - 1 - i)} as bigint)"
        for i in range(nibbles)
    )
    return f"({terms})"


def md5_multiplicity(x: str, draws: int = 3, threshold_hex: str = "50") -> str:
    """Deterministic bootstrap-with-replacement multiplicity: ``draws``
    independent Bernoulli trials per row, trial ``j`` succeeding when the
    first md5 byte of ``x:j`` is at or below ``threshold_hex``
    (lowercase-hex string compare — identical in Spark and DuckDB).

    Default 3 x p=(0x50+1)/256 ~ 0.3164 gives mean multiplicity ~0.949 —
    the exactly-replayable twin of the reference's seeded
    ``sample(frac=0.95, replacement=True)`` draw (SO3, model.py:279-281):
    same mean mass, multiplicities in [0, draws], zero RNG state."""
    trials = [
        f"(case when substring(md5((({x}) || ':{j}')), 1, 2) <= '{threshold_hex}'"
        f" then 1 else 0 end)"
        for j in range(draws)
    ]
    return "(" + " + ".join(trials) + ")"
