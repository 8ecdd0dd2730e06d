"""Join / assembly operators J2-J4, SO2-SO3, A14-A15 (SURVEY §2.4/§2.5/§2.7).

Join strategy at 100 TB: per-user feature blocks are all keyed by user_id
with ~1 row/user, so the assembly joins are same-key and AQE picks
shuffled-hash/sort-merge with co-partitioning; the label/dimension joins
broadcast the small side explicitly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import sqlgen


def assemble_features(
    blocks: list[DataFrame], key: str = "user_id", how: str = "outer", fill: float | None = 0.0
) -> DataFrame:
    """J2: multi-way aligned join of per-user feature blocks
    (/root/reference/run.py:435-461 ``pd.concat(axis=1)``).

    ``fill`` mirrors the index-aligned concat's NaN->0 conventions; pass
    None to keep nulls (then ``.na.drop()`` for the reference's strict
    ``dropna`` at run.py:465).
    """
    out = reduce(lambda a, b: a.join(b, on=key, how=how), blocks)
    return out if fill is None else out.na.fill(fill)


def anti_join_missing(universe: DataFrame, present: DataFrame, key: str) -> DataFrame:
    """J3/SO2: keys in ``universe`` that vanished from ``present``
    (/root/reference/run.py:200-202 ``np.setdiff1d``)."""
    return (
        universe.select(key).distinct().join(present.select(key).distinct(), on=key, how="left_anti")
    )


def union_fill_max(
    preds: DataFrame, dropped_keys: DataFrame, key: str = "user_id", score_col: str = "target"
) -> DataFrame:
    """J4+A14: re-append dropped users with the GLOBAL Max score
    (/root/reference/run.py:480-482 — conservative imputation for users
    eliminated by cleaning).

    The global max is a scalar subquery (tiny agg broadcast by Catalyst),
    not a driver-side collect.
    """
    mx = preds.agg(F.max(score_col).alias("_mx"))
    filled = dropped_keys.crossJoin(broadcast(mx)).select(
        F.col(key), F.col("_mx").alias(score_col)
    )
    return preds.select(key, score_col).unionByName(filled)


def ensemble_mean(
    runs: list[DataFrame], key: str = "user_id", score_col: str = "target"
) -> DataFrame:
    """A15: mean score across bootstrap repetitions
    (/root/reference/model.py:293).

    Union-all + one hash aggregate: the 50 reference repetitions execute
    as parallel branches of a single job instead of a sequential loop.
    """
    tagged = [df.select(key, score_col) for df in runs]
    unioned = reduce(lambda a, b: a.unionByName(b), tagged)
    c = sqlgen.ident(score_col)
    return unioned.groupBy(key).agg(
        F.expr(f"({sqlgen.dsum_cast(c)} / count({c}))").alias(f"{score_col}_mean")
    )


def bootstrap_runs(
    df: DataFrame, n_reps: int, fraction: float = 0.95, seed: int = 42
) -> list[DataFrame]:
    """SO3: seeded bootstrap samples with replacement
    (/root/reference/model.py:279-281).  Same distribution, not bitwise
    the same draws as numpy (SURVEY §7.4.5)."""
    return [
        df.sample(withReplacement=True, fraction=fraction, seed=seed + i)
        for i in range(n_reps)
    ]


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: spread each hot ``on``-key of the large
    ``left`` side over ``salt`` shuffle partitions by joining on
    ``(on, salt)``, with the small ``right`` side replicated across all
    salt values.

    AQE's skew-join split handles moderate skew on sort-merge joins; this
    is for EXTREME single-key skew (one key larger than a partition) or
    plans AQE can't split.  ``salt`` multiplies the right side's shuffle
    volume — keep the right side small.

    The salt is ``pmod(hash(row), salt)`` — deterministic, so speculative
    re-execution and task retries at cluster scale reproduce identical
    partition contents (``rand()`` would not).  ``salt_from`` defaults to
    every non-map left column (maps aren't hashable in Spark).

    Only inner/left joins: replicating the right side would duplicate its
    unmatched rows under right/full semantics.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt_from is None:
        salt_from = [c for c, t in left.dtypes if not t.startswith("map<")]
    sc = "_salt"
    salted = left.withColumn(sc, F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(salt)))
    replicated = right.withColumn(
        sc, F.explode(F.array([F.lit(i) for i in range(salt)]))
    )
    return salted.join(replicated, on=[on, sc], how=how).drop(sc)


def _bloom_positions(key_col: str, num_bits: int, num_hashes: int) -> list:
    """k independent bit positions for one key: pmod(xxhash64(key, i), m).

    Seeding the hash with the probe index (an extra lit column folded into
    the same xxhash64 call) gives k independent functions without any
    double-hashing correlation; everything stays in whole-stage codegen.
    """
    return [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_build(dim: DataFrame, key_col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """Build a SPARSE bloom-filter bitmap over ``dim[key_col]`` as a tiny
    ``(word_idx bigint, bits bigint)`` table: word ``w`` holds the OR of
    ``1 << (pos % 64)`` for every hash position ``pos`` with
    ``pos // 64 == w``.

    Spark exposes no SQL ``bloom_filter_agg``/``might_contain`` (probed:
    UNRESOLVED_ROUTINE on 4.1), so the bitmap is an ordinary aggregate —
    which is exactly what makes it scale: the build is one hash-agg over
    ``num_hashes`` exploded positions, and the result is at most
    ``num_bits/64`` rows (a few MB for hundreds of millions of bits),
    broadcastable to every executor.
    """
    pos = F.explode(F.array(*_bloom_positions(key_col, num_bits, num_hashes))).alias("_pos")
    return (
        dim.filter(F.col(key_col).isNotNull())
        .select(pos)
        .groupBy((F.col("_pos") / 64).cast("bigint").alias("word_idx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(pmod(_pos, 64) as int)))"
            ).alias("bits")
        )
    )


def bloom_prune(
    fact: DataFrame, bloom: DataFrame, key_col: str, num_bits: int, num_hashes: int
) -> DataFrame:
    """Drop ``fact`` rows whose ``key_col`` is DEFINITELY absent from the
    bloom bitmap built by :func:`bloom_build` (no false negatives — every
    surviving row set is a superset of the true matches).

    Shape at 100 TB: ``num_hashes`` BROADCAST hash joins on the computed
    word index — the fact side is never shuffled, never exploded, and the
    filter runs before any downstream join/aggregate shuffle, so the
    shuffle that follows moves only rows that can possibly match.  This is
    the explicit, plannable version of Spark's runtime bloom pushdown
    (spark.sql.optimizer.runtime.bloomFilter.*), which only triggers on
    selective shuffle-join builds and cannot be composed by the user.
    """
    out = fact
    keep = None
    for i, pos in enumerate(_bloom_positions(key_col, num_bits, num_hashes)):
        w, b = f"_bw{i}", f"_bb{i}"
        out = out.withColumn(w, (pos / 64).cast("bigint"))
        side = bloom.select(F.col("word_idx").alias(w), F.col("bits").alias(b))
        out = out.join(broadcast(side), on=w, how="left")
        mask = F.expr(
            f"shiftleft(cast(1 as bigint), "
            f"cast(pmod(pmod(xxhash64({key_col}, {i}), {num_bits}), 64) as int))"
        )
        hit = F.col(b).isNotNull() & (F.col(b).bitwiseAND(mask) != 0)
        keep = hit if keep is None else (keep & hit)
    return out.filter(keep).drop(
        *[f"_bw{i}" for i in range(num_hashes)],
        *[f"_bb{i}" for i in range(num_hashes)],
    )


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    expected_items: int | None = None,
    fpp: float = 0.01,
    num_hashes: int | None = None,
) -> DataFrame:
    """Equi-join with an explicit bloom-filter pre-prune of the fact side.

    Sizing uses the standard formulas m = -n·ln(p)/ln(2)² and
    k = round(m/n·ln 2); ``expected_items`` defaults to ``dim.count()``
    (one cheap job over the SMALL side only — never the fact table).
    Result is exactly ``fact JOIN dim`` (bloom filters have no false
    negatives); the oracle for this operator is therefore the plain SQL
    join.

    Inner/semi joins only: the prune drops fact rows with no dim match
    BEFORE the join, which is exactly wrong for left/outer/anti
    semantics (those rows must surface null-extended or as the result).
    """
    import math

    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(
            f"bloom_semi_join supports inner/semi joins only, got {how!r} "
            "(pruned fact rows would be missing from outer/anti results)"
        )

    n = expected_items if expected_items is not None else dim.count()
    n = max(n, 1)
    num_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = num_hashes if num_hashes is not None else max(1, round(num_bits / n * math.log(2)))
    # materialize the bitmap once: without this each of the k broadcast
    # probes re-plans the dim scan + bitmap aggregation (k extra scans in
    # the initial plan); the bitmap is <= num_bits/64 rows by design, so
    # the checkpoint is tiny
    bloom = bloom_build(dim, dim_key, num_bits, k).localCheckpoint(eager=True)
    pruned = bloom_prune(fact, bloom, fact_key, num_bits, k)
    cond = pruned[fact_key] == dim[dim_key]
    return pruned.join(dim, on=cond, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS-style filter: rows of ``left`` with at least one match in
    ``right`` (the dual of J3's anti join — /root/reference/run.py:200-202
    membership tests).  A left-semi join returns only left columns, never
    multiplies rows, and ships only the join keys of the probe side — at
    100 TB it is strictly cheaper than inner-join + distinct.
    """
    return left.join(right, on=on, how="left_semi")
