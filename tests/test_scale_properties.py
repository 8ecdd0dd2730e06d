"""Scale-property tests: skewed keys, wide frozen vocabularies, and the
S5 artifact loader against the reference's real bin-edges pickle."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from vtb_datafusion_2023_spark.operators.cleaning import clean_transactions
from vtb_datafusion_2023_spark.operators.filtering import positional_trim
from vtb_datafusion_2023_spark.operators.gstats import group_percentiles
from vtb_datafusion_2023_spark.operators.pivots import pivot_agg
from vtb_datafusion_2023_spark.operators.projections import conform_columns
from vtb_datafusion_2023_spark.sources.artifacts import load_bin_edges
from vtb_datafusion_2023_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def skewed(spark):
    """One power user owns ~80%% of all rows (the reference's worst case:
    run.py's per-user loop serializes on it; our ops must not)."""
    big = spark.range(80_000).select(
        F.lit(1).alias("user_id"),
        (F.col("id") % 7).cast("int").alias("cat"),
        (F.col("id") % 100).cast("double").alias("value"),
        F.col("id").alias("ord"),
    )
    small = spark.range(20_000).select(
        (2 + F.col("id") % 500).alias("user_id"),
        (F.col("id") % 7).cast("int").alias("cat"),
        (F.col("id") % 90).cast("double").alias("value"),
        (100_000 + F.col("id")).alias("ord"),
    )
    return big.unionByName(small)


def test_skewed_group_percentiles(skewed):
    out = group_percentiles(skewed, ["user_id", "cat"], "value", n_amt=10).toPandas()
    # power-user group is exact vs numpy
    g = skewed.filter("user_id = 1 and cat = 0").select("value").toPandas()["value"]
    row = out[(out.user_id == 1) & (out.cat == 0)].iloc[0]
    p = min(100.0, 100.0 * 10 / len(g))
    assert row.cnt == len(g)
    assert np.isclose(row.p_lo, np.percentile(g, p))
    assert np.isclose(row.p_median, np.median(g))


def test_skewed_trim_and_clean(skewed):
    trimmed = positional_trim(skewed.withColumn("ts", F.col("ord")), "user_id", ["ts", "ord"], 20, 20)
    counts = {r.user_id: r["count"] for r in trimmed.groupBy("user_id").count().collect()}
    assert counts[1] == 80_000 - 40
    cleaned = clean_transactions(
        skewed, user_col="user_id", cat_col="cat", value_col="value", n_amt=10, n_mcc=10
    )
    assert cleaned.count() == skewed.count()  # rewrite, never drop


def test_wide_frozen_vocab_pivot_and_conform(spark):
    """A 419-column closed vocabulary (the reference's real P5 width,
    run.py:105) stays a single-projection / single-aggregate plan."""
    n_cats = 419
    df = spark.range(20_000).select(
        (F.col("id") % 50).alias("user_id"),
        (F.col("id") % 37).cast("int").alias("cat"),  # only 37 present
        F.lit(1.0).alias("v"),
    )
    vocab = list(range(n_cats))
    wide = pivot_agg(df, "user_id", "cat", vocab, agg="count", prefix="c")
    assert len(wide.columns) == n_cats + 1
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    row = wide.filter("user_id = 0").collect()[0]
    assert row["c-400"] == 0 and row["c-0"] > 0  # absent categories conform to 0
    conformed = conform_columns(df, ["user_id"] + [f"x{i}" for i in range(419)], fill=0.0)
    assert len(conformed.columns) == 420


def test_s5_reference_bin_edges_artifact(spark):
    path = "/root/reference/nn_bins.pickle"
    if not os.path.exists(path):
        pytest.skip("reference artifact not present")
    edges = load_bin_edges(path)
    assert len(edges) >= 5
    assert all(len(v) >= 2 for v in edges.values())
    # compile one real feature's edges into a projection and bin data
    feat, ed = sorted(edges.items())[0]
    from vtb_datafusion_2023_spark.operators.projections import bin_by_edges

    df = spark.range(100).select((F.col("id").cast("double")).alias("x"))
    binned = df.select(bin_by_edges("x", ed).alias("b")).toPandas()
    import pandas as pd

    want = pd.cut(pd.Series(np.arange(100.0)), bins=ed, labels=False)
    got = binned["b"].to_numpy()
    for g, w in zip(got, want):
        assert (np.isnan(w) and pd.isna(g)) or g == int(w)


def test_salted_join_matches_plain_and_spreads_hot_key(skewed, spark):
    from vtb_datafusion_2023_spark.operators.joins import salted_join

    dim = spark.range(600).select(
        (F.col("id") + 1).alias("user_id"), (F.col("id") * 2).alias("rank")
    )
    plain = skewed.join(dim, "user_id").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rank").alias("s")
    )
    salted = salted_join(skewed, dim, on="user_id", salt=8).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rank").alias("s")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the join's shuffle key really is (user_id, _salt): the hot key's
    # 80k rows land in up to 8 partitions instead of 1
    p = salted_join(skewed, dim, on="user_id", salt=8)._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in p


def test_salted_left_join_keeps_unmatched_left(spark):
    from vtb_datafusion_2023_spark.operators.joins import salted_join

    left = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    right = spark.range(50).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    out = salted_join(left, right, on="k", salt=4, how="left")
    assert out.count() == 100
    assert out.filter(F.col("tag").isNull()).count() == 50


def test_sketches_within_error_bounds(spark, sf_small):
    from vtb_datafusion_2023_spark.functions.sketches import (
        approx_distinct,
        approx_quantiles,
    )
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    exact = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("nd")).collect()
    }
    approx = {
        r["event_type"]: r["approx_nd"]
        for r in approx_distinct(ev, ["event_type"], "user_id", rsd=0.05).collect()
    }
    for k, nd in exact.items():
        assert abs(approx[k] - nd) <= max(4, 4 * 0.05 * nd), (k, approx[k], nd)

    exact_p50 = {
        r["event_type"]: r["p50"]
        for r in ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5) as p50")).collect()
    }
    got = {
        r["event_type"]: r["q_0_5"]
        for r in approx_quantiles(ev, ["event_type"], "value", probs=[0.5]).collect()
    }
    for k, p in exact_p50.items():
        assert abs(got[k] - p) <= 0.02 * max(1.0, abs(p)), (k, got[k], p)


def test_melt_inverts_conditional_pivot(spark, sf_small):
    """melt(pivot(x)) recovers the long form: wide->long is lossless."""
    from vtb_datafusion_2023_spark.operators.projections import melt
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0)
    )
    long = melt(wide, ["user_id"], types, var_name="event_type", value_name="n")
    back = {
        (r["user_id"], r["event_type"]): int(r["n"])
        for r in long.collect()
    }
    truth = {
        (r["user_id"], r["event_type"]): r["c"]
        for r in ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for k, v in truth.items():
        assert back[k] == v
    # non-occurring combos melted to the fill value, not dropped
    assert len(back) == len(types) * wide.count()


def test_topk_per_group_matches_sorted_head(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.analytics import topk_per_group
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events").select("user_id", "event_id", "value")
    got = topk_per_group(ev, ["user_id"], "value", 3, tie_cols=["event_id"]).collect()
    import collections

    by_user = collections.defaultdict(list)
    for r in ev.collect():
        by_user[r["user_id"]].append((-r["value"], r["event_id"]))
    want = {
        (u, eid)
        for u, rows in by_user.items()
        for _, eid in sorted(rows)[:3]
    }
    assert {(r["user_id"], r["event_id"]) for r in got} == want


def test_latest_by_key_idempotent_and_partition_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.cleaning import latest_by_key
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    once = latest_by_key(ev, ["user_id"], ["ts", "event_id"])
    twice = latest_by_key(once, ["user_id"], ["ts", "event_id"])
    assert once.exceptAll(twice).count() == 0 and twice.exceptAll(once).count() == 0
    # result independent of input partitioning (deterministic tie-break)
    re = latest_by_key(ev.repartition(13), ["user_id"], ["ts", "event_id"])
    assert once.exceptAll(re).count() == 0 and re.exceptAll(once).count() == 0


def test_json_col_malformed_rows_yield_null_not_failure(spark):
    from vtb_datafusion_2023_spark.operators.projections import json_col

    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, "not json"), (3, None), (4, '{"k": null}')],
        "id int, props string",
    )
    out = {r["id"]: r["k"] for r in json_col(df, "props", "k bigint").collect()}
    assert out == {1: 7, 2: None, 3: None, 4: None}


def test_weighted_sample_deterministic_and_monotone(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import weighted_sample

    docs = load_table(spark, sf_small, "documents")
    p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(2000.0))
    a = sorted(r.doc_id for r in weighted_sample(docs, p, "doc_id").select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in weighted_sample(docs.repartition(7), p, "doc_id").select("doc_id").collect()
    )
    assert a == b and len(a) > 0  # partition-layout independent
    # p=1 keeps everything, p=0 keeps nothing
    assert weighted_sample(docs, F.lit(1.0), "doc_id").count() == docs.count()
    assert weighted_sample(docs, F.lit(0.0), "doc_id").count() == 0
    # a different salt draws an (almost surely) different sample
    c = sorted(
        r.doc_id
        for r in weighted_sample(docs, p, "doc_id", salt="other").select("doc_id").collect()
    )
    assert c != a
    # narrow plan: no exchange
    plan = weighted_sample(docs, p, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_percentile_filter_drops_bottom_fraction_per_group(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import percentile_filter

    docs = load_table(spark, sf_small, "documents").select("doc_id", "lang", "n_chars")
    kept = percentile_filter(docs, "n_chars", ["lang"], 0.2)
    assert "_cd" not in kept.columns
    # per group: every kept score >= every dropped score
    full = {(r.lang, r.doc_id): r.n_chars for r in docs.collect()}
    kept_ids = {(r.lang, r.doc_id) for r in kept.collect()}
    by_lang = {}
    for (lang, did), n in full.items():
        by_lang.setdefault(lang, []).append(((lang, did) in kept_ids, n))
    for lang, rows in by_lang.items():
        kmin = min((n for k, n in rows if k), default=None)
        dmax = max((n for k, n in rows if not k), default=None)
        if kmin is not None and dmax is not None:
            assert kmin >= dmax, lang
        # at most ~20% dropped (ties can keep extra, never drop extra)
        dropped = sum(1 for k, _ in rows if not k)
        assert dropped <= 0.2 * len(rows) + 1, lang


def test_key_skew_sampled_probe_estimates_top_share(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.profile import key_skew

    ev = load_table(spark, sf_small, "events")
    exact = {r.column: r for r in key_skew(ev, ["user_id"]).collect()}
    est = {r.column: r for r in key_skew(ev, ["user_id"], sample_fraction=0.5, seed=7).collect()}
    # deterministic given the seed
    est2 = {r.column: r for r in key_skew(ev, ["user_id"], sample_fraction=0.5, seed=7).collect()}
    assert est["user_id"].n == est2["user_id"].n
    # the sampled share is in the right ballpark (binomial ratio, n~half)
    assert est["user_id"].top_share < 10 * exact["user_id"].top_share
    assert est["user_id"].n < exact["user_id"].n


def test_route_skew_decision_rule(spark):
    """key_skew -> route_skew routing (SCALE.md runbook): a uniform key
    routes to plain hash, a key whose hottest value overflows the task
    budget routes to salted_join with the computed salt factor, and a
    monster key additionally gets the automaton trim cap."""
    from vtb_datafusion_2023_spark.operators.profile import key_skew, route_skew

    # 1000 uniform rows over 100 users; one hot device owns 600 of 1000
    rows = [(i % 100, i % 2, "d%d" % (0 if i < 600 else i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "user_id int, flag int, device string")
    report = key_skew(df, ["user_id", "device"]).collect()
    routes = route_skew(report, partition_budget_rows=100, automaton_budget_rows=500)

    assert routes["user_id"].strategy == "hash"
    assert routes["user_id"].salt == 1
    assert routes["user_id"].max_events_per_key is None
    assert abs(routes["user_id"].skew_ratio - 1.0) < 0.2

    hot = routes["device"]
    assert hot.strategy == "salted"
    assert hot.salt == 6  # ceil(600 / 100)
    assert hot.max_events_per_key == 500  # top_n 600 > automaton budget
    assert hot.skew_ratio > 100

    # budgets above the hottest key: everything is plain hash again
    relaxed = route_skew(report, partition_budget_rows=10_000)
    assert all(r.strategy == "hash" for r in relaxed.values())
    # salt factor is capped so the replicated side can't blow up
    capped = route_skew(report, partition_budget_rows=10, max_salt=16)
    assert capped["device"].salt == 16

    # dict rows (e.g. a saved probe re-read from JSON) route identically
    as_dicts = route_skew([r.asDict() for r in report], partition_budget_rows=100,
                          automaton_budget_rows=500)
    assert as_dicts["device"].strategy == "salted"


def test_clean_transactions_fused_equals_two_step(spark):
    """The fused clean_transactions == winsorize_to_median(df), then the
    rare rewrite with counts, top category and medians of the ORIGINAL df
    (test-side, ``reference_cat_counts_top``) row for row — including on
    null categories and null values (where the two count contracts
    diverge: cnt = non-null values, _cat_cnt = all rows), MIXED-SIGN
    values whose median pair straddles zero (outside the Sterbenz region
    the two percentile interpolations coincide in — the failure zone of
    the draft that substituted group_percentiles' p_median for the
    builtin), and a user whose TOP category holds only null values (the
    group a median-from-percentiles join silently drops)."""
    import random

    from test_r11_opt import reference_cat_counts_top

    from vtb_datafusion_2023_spark.operators.cleaning import winsorize_to_median

    rng = random.Random(7)
    rows = []
    for i in range(2000):
        u = rng.randrange(20)
        cat = rng.choice([None, 1, 2, 3, 4, 5, 6, 7])
        # mean 0: median pairs routinely straddle zero, where
        # lo+(hi-lo)*0.5 != 0.5*lo+0.5*hi in the last ulp
        v = None if rng.random() < 0.05 else rng.gauss(0.0, 50)
        rows.append((i, u, cat, v))
    # user 97: top category (9, twelve all-NULL rows) + one rare row —
    # the rare rewrite must still find cat 9 and emit its NULL median
    base = len(rows)
    rows += [(base + j, 97, 9, None) for j in range(12)]
    rows.append((base + 12, 97, 3, 42.0))
    df = spark.createDataFrame(rows, "ord long, user_id long, cat int, value double")

    fused = clean_transactions(
        df, user_col="user_id", cat_col="cat", value_col="value", n_amt=10, n_mcc=10
    )
    winsorized = winsorize_to_median(df, "user_id", "cat", "value", n_amt=10, min_count=10)
    counts, top_med = reference_cat_counts_top(df, "user_id", "cat", "value")
    is_rare = F.col("_cat_cnt") <= 10
    two_step = (
        winsorized.join(counts, on=["user_id", "cat"], how="left")
        .join(top_med, on="user_id", how="left")
        .select(
            "ord",
            "user_id",
            F.when(is_rare, F.col("_top_cat")).otherwise(F.col("cat")).alias("cat"),
            F.when(is_rare, F.col("_cat_median")).otherwise(F.col("value")).alias("value"),
        )
    )
    a = fused.orderBy("ord").collect()
    b = two_step.orderBy("ord").collect()
    assert len(a) == len(b) == 2013
    # the all-null top category actually engaged: user 97's rare row
    # rewrote to cat 9 with a NULL median
    u97 = [r for r in a if r["user_id"] == 97 and r["ord"] == 2012]
    assert u97 and u97[0]["cat"] == 9 and u97[0]["value"] is None
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)


def test_kmv_set_ops_tracks_exact_overlaps(spark, sf_small):
    """KMV union/intersection/Jaccard estimates vs exact pairwise
    overlaps on the events table: union error inside the KMV k=64
    envelope (~1/sqrt(k-2) ≈ 13%, allow 3 sigma), intersection/Jaccard
    within an additive band (ρ adds binomial noise on top).  Also the
    exact regime: sets whose combined sketch fits in k must come back
    EXACT."""
    from vtb_datafusion_2023_spark.functions.sketches import kmv_set_ops

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    got = {
        (r.set_a, r.set_b): r
        for r in kmv_set_ops(ev, "event_type", "user_id", k=64).collect()
    }
    assert got  # events has >= 2 types
    pairs = {k: v for k, v in got.items()}
    exact = {}
    rows = ev.select("event_type", "user_id").distinct().collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, set()).add(r.user_id)
    for (a, b), r in pairs.items():
        ua, ub = by_type[a], by_type[b]
        exact[(a, b)] = (len(ua | ub), len(ua & ub))
    for key, r in pairs.items():
        tu, ti = exact[key]
        if tu < 64:  # exact regime
            assert r.union_est == float(tu)
            assert r.inter_est == float(ti)
        else:
            assert abs(r.union_est - tu) / tu < 0.40  # 3x the k=64 sigma
            assert abs(r.inter_est - ti) <= max(10, 0.5 * tu ** 0.5 * 6)
        assert 0.0 <= r.jaccard_est <= 1.0


def test_kmv_set_ops_guards_high_cardinality_set_key(spark, sf_small):
    """The pairwise estimate stage is all-pairs over SET KEYS — right
    for source/shard/snapshot keys, quadratic poison for a user-grade
    key (VERDICT r6 item 5).  Past max_sets the call must raise with
    the remedy instead of planning |sets|² pairs; at or under the
    bound it runs unchanged."""
    import pytest

    from vtb_datafusion_2023_spark.functions.sketches import kmv_set_ops

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    with pytest.raises(ValueError, match="max_sets"):
        kmv_set_ops(ev, "user_id", "event_id", k=8, max_sets=10)
    # at the bound: normal result shape
    n_types = ev.select("event_type").distinct().count()
    out = kmv_set_ops(ev, "event_type", "user_id", k=8, max_sets=n_types)
    assert out.count() == n_types * (n_types - 1) // 2
    # max_sets=None: guard count skipped entirely (caller vouches for the
    # cardinality) — identical output, no ValueError even on a key that
    # would trip a finite bound
    out_none = kmv_set_ops(ev, "event_type", "user_id", k=8, max_sets=None)
    assert sorted(map(tuple, out_none.collect())) == sorted(map(tuple, out.collect()))
