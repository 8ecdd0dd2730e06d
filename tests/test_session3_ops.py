"""Round-5 session-3 operators: batch sessionization, containment dedup,
label-propagation communities, raw-frame sampling."""

import datetime as dt
import math
import re

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_sessionize_strict_gap_semantics(spark):
    from vtb_datafusion_2023_spark.operators.analytics import sessionize

    rows = [
        # user 1: three events, second exactly AT the gap (stays), third
        # one microsecond past it (new session)
        (1, _ts("2024-01-01 00:00:00"), 1, 10.0),
        (1, _ts("2024-01-01 00:30:00"), 2, 20.0),          # == 1800s: same
        (1, _ts("2024-01-01 01:00:00.000001"), 3, 30.0),   # > 1800s: breaks
        # user 2: single event
        (2, _ts("2024-01-05 12:00:00"), 4, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {
        (r.user_id, r.session_idx): r
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11.n_events == 2 and s11.duration_s == 1800
    assert s11.total_value == 30.0
    s12 = out[(1, 2)]
    assert s12.n_events == 1 and s12.duration_s == 0 and s12.total_value == 30.0
    assert out[(2, 1)].n_events == 1


def test_sessionize_single_exchange_plan(spark):
    from vtb_datafusion_2023_spark.operators.analytics import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    # the lag flag, the running session index, and the closing
    # (user, session) aggregate all ride ONE hash exchange on user_id
    assert plan.count("Exchange hashpartitioning") == 1


def test_containment_detects_subset_direction(spark):
    from vtb_datafusion_2023_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "unrelated words entirely different tokens"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    }
    # doc 1 fully contained in doc 2; reverse direction is 3/10 < 0.9
    assert got == {(1, 2): 1.0}


def test_containment_prefix_filter_matches_bruteforce(spark, sf_small):
    from test_datapipe import reference_shingle_pairs

    from vtb_datafusion_2023_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    fast = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    slow = reference_shingle_pairs(docs, 1, 0.7, "containment")
    assert fast == slow and len(fast) > 0


def test_label_propagation_splits_communities_cc_cannot(spark):
    from vtb_datafusion_2023_spark.operators.graph import label_propagation

    # two triangles bridged by a single edge: one connected component,
    # but LPA keeps a distinct majority label per triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    got = {r.node: r.label for r in label_propagation(edges, iterations=3).collect()}
    # hand-unrolled synchronous recursion: round 1 takes min neighbor ids,
    # round 2 consolidates each triangle, round 3 pulls the bridge node 4
    # into the right triangle's settled label 3 — two communities, one
    # component (connected components would assign a single label)
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    assert len(set(got.values())) == 2


def test_label_propagation_deterministic_across_partitionings(spark):
    from vtb_datafusion_2023_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(40)] + [(3, 11), (11, 17)],
        "src long, dst long",
    )
    a = sorted(
        (r.node, r.label)
        for r in label_propagation(edges.repartition(1), iterations=4).collect()
    )
    b = sorted(
        (r.node, r.label)
        for r in label_propagation(edges.repartition(13), iterations=4).collect()
    )
    assert a == b


def test_frame_sample_slices_and_drops_partial_tail(spark):
    from vtb_datafusion_2023_spark.operators.multimodal import frame_sample

    payload = bytes(range(10))  # frames of 4 bytes -> 2 full, 2 tail bytes dropped
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"abc"))],  # doc 2: no full frame
        "media_id long, payload binary",
    )
    rows = frame_sample(df, frame_bytes=4, every_n=1).collect()
    got = {(r.media_id, r.frame_idx): (bytes(r.frame), r.n_frames) for r in rows}
    assert got == {
        (1, 0): (bytes([0, 1, 2, 3]), 2),
        (1, 1): (bytes([4, 5, 6, 7]), 2),
    }


def test_frame_sample_stride_and_validation(spark):
    from vtb_datafusion_2023_spark.operators.multimodal import frame_sample

    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(32))))], "media_id long, payload binary"
    )
    idx = sorted(
        r.frame_idx for r in frame_sample(df, frame_bytes=4, every_n=3).collect()
    )
    assert idx == [0, 3, 6]
    with pytest.raises(ValueError):
        frame_sample(df, frame_bytes=0)
    with pytest.raises(ValueError):
        frame_sample(df, frame_bytes=4, every_n=0)


def test_rfm_segments_hand_computed(spark):
    from vtb_datafusion_2023_spark.operators.analytics import rfm_segments

    # 4 users, metrics constructed so every ntile(4) bucket holds exactly
    # one user: recency order u4<u3<u2<u1, frequency order u1<u2<u3<u4,
    # monetary order u1<u2<u3<u4
    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for u, (days_ago, n_ev, val) in {
        1: (30, 1, 1.0),
        2: (20, 2, 5.0),
        3: (10, 3, 9.0),
        4: (0, 4, 20.0),
    }.items():
        for i in range(n_ev):
            eid += 1
            rows.append(
                (u, base + dt.timedelta(days=-days_ago, minutes=i), eid, val)
            )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {r.user_id: r for r in rfm_segments(df).collect()}
    assert got[4].r_score == 4 and got[1].r_score == 1
    assert got[4].f_score == 4 and got[1].f_score == 1
    assert got[4].m_score == 4 and got[1].m_score == 1
    assert got[4].segment == 444 and got[1].segment == 111
    assert got[2].segment == 222 and got[3].segment == 333
    assert got[4].recency_days == 0 and got[1].recency_days == 30
    assert got[4].frequency == 4 and got[4].monetary == 80.0


def test_rfm_segments_partitioning_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.analytics import rfm_segments

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    a = sorted(map(tuple, rfm_segments(ev.repartition(1)).collect()))
    b = sorted(map(tuple, rfm_segments(ev.repartition(17)).collect()))
    assert a == b


def test_text_keywords_rank_and_tiebreak(spark):
    from vtb_datafusion_2023_spark.suite.datapipe import text_keywords as _  # noqa: F401
    from vtb_datafusion_2023_spark.operators.analytics import topk_per_group
    from vtb_datafusion_2023_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [
            (1, "rare unique words common common"),
            (2, "common common other other other boring"),
            (3, "common boring filler filler"),
        ],
        "doc_id long, text string",
    )
    scored = tfidf(docs)
    top = topk_per_group(scored, ["doc_id"], "tfidf", 2, tie_cols=["term"])
    got = {}
    for r in top.collect():
        got.setdefault(r.doc_id, []).append((r.term, r.tf, r.df))
    # doc 1: 'common' appears in all 3 docs (idf=0) — top terms are the
    # df=1 singletons, tie broken alphabetically
    terms1 = sorted(t for t, _, _ in got[1])
    assert terms1 == ["rare", "unique"]
    # every kept term beats or ties the excluded ones deterministically
    assert all(len(v) == 2 for v in got.values())


def test_tfidf_idf_collect_is_guard_bounded(spark, monkeypatch):
    """The one data-dependent driver-side collection (VERDICT r8 watch
    item): the distinct-df collect goes through limit(guard + 1), so a
    pathological vocabulary switches idf to in-plan log instead of
    pulling an unbounded table onto the driver."""
    from vtb_datafusion_2023_spark.functions import stats
    from vtb_datafusion_2023_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b"),
            (3, "a"),
        ],  # dfs: a=3, b=2, c=1 -> 3 distinct df values
        "doc_id long, text string",
    )

    def run(guard):
        monkeypatch.setattr(stats, "EXACT_LN_GUARD", guard)
        out = tfidf(docs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return bool(re.search(r"\bln\(", plan)), {(r.doc_id, r.term): (r.df, r.tfidf) for r in out.collect()}

    inplan_log, inplan = run(2)  # one below the distinct count
    exact_log, exact = run(3)  # at the distinct count the exact path is unchanged
    assert inplan_log and not exact_log
    assert exact[(1, "c")] == (1, math.log(3.0))
    assert inplan.keys() == exact.keys()
    for k, (d, v) in exact.items():
        assert inplan[k][0] == d and abs(inplan[k][1] - v) <= 1e-12


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # user
            st.integers(min_value=0, max_value=10_000_000), # offset µs
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),  # gap seconds
)
def test_sessionize_matches_python_reference(spark, events, gap_s):
    """Property: session boundaries, counts, and durations equal a
    pure-Python replay of the strict-gap recurrence on arbitrary
    microsecond-resolution streams."""
    from vtb_datafusion_2023_spark.operators.analytics import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(microseconds=off), i + 1)
        for i, (u, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = sorted(
        (r.user_id, r.session_idx, r.n_events, r.duration_s)
        for r in sessionize(df, gap_seconds=gap_s, val_col=None).collect()
    )

    # python reference: same (ts, event_id) order, strict-gap break
    per_user = {}
    for u, ts, eid in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        per_user.setdefault(u, []).append(ts)
    expect = []
    gap_us = gap_s * 1_000_000
    for u, tss in per_user.items():
        sessions = []
        for ts in tss:
            us = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
            if not sessions or us - sessions[-1][-1] > gap_us:
                sessions.append([us])
            else:
                sessions[-1].append(us)
        for i, s in enumerate(sessions, start=1):
            expect.append((u, i, len(s), (s[-1] - s[0]) // 1_000_000))
    assert got == sorted(expect)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=9),   # frame_bytes
    st.integers(min_value=1, max_value=4),   # every_n
)
def test_frame_sample_matches_python_slicing(spark, payloads, fb, ev):
    from vtb_datafusion_2023_spark.operators.multimodal import frame_sample

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    got = sorted(
        (r.media_id, r.frame_idx, bytes(r.frame))
        for r in frame_sample(df, frame_bytes=fb, every_n=ev).collect()
    )
    expect = []
    for i, p in enumerate(payloads):
        nf = len(p) // fb
        for k in range(0, nf, ev):
            expect.append((i, k, p[k * fb : (k + 1) * fb]))
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.5, 0.7, 0.9, 1.0]),
)
def test_containment_matches_python_sets(spark, texts, threshold):
    from vtb_datafusion_2023_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): round(r.containment, 12)
        for r in containment_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    sets = [set(t.split(" ")) for t in texts]
    expect = {}
    for a, sa in enumerate(sets):
        for b, sb in enumerate(sets):
            if a == b:
                continue
            c = len(sa & sb) / len(sa)
            if c >= threshold:
                expect[(a, b)] = round(c, 12)
    assert got == expect


def test_throttle_events_keeps_first_per_window(spark):
    from vtb_datafusion_2023_spark.operators.filtering import throttle_events

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: burst of 4 inside one hour window, then 1 next hour
        (1, base + dt.timedelta(minutes=m), i + 1)
        for i, m in enumerate([0, 1, 2, 3, 61])
    ] + [(2, base, 10)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    kept = sorted(
        (r.user_id, r.event_id)
        for r in throttle_events(df, window_seconds=3600, keep=2).collect()
    )
    # first 2 of the burst survive, the 61-minute event opens a new window
    assert kept == [(1, 1), (1, 2), (1, 5), (2, 10)]
    with pytest.raises(ValueError):
        throttle_events(df, window_seconds=0)
    with pytest.raises(ValueError):
        throttle_events(df, keep=0)


def test_throttle_events_window_group_limit_plan(spark):
    from vtb_datafusion_2023_spark.operators.filtering import throttle_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = throttle_events(ev)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_top_paths_hand_computed(spark):
    from vtb_datafusion_2023_spark.operators.analytics import top_paths

    base = dt.datetime(2024, 1, 1)
    seq = {
        1: ["a", "b", "c", "a", "b", "c"],   # paths: a>b>c, b>c>a, c>a>b, a>b>c
        2: ["a", "b", "c"],                  # a>b>c
    }
    rows = []
    eid = 0
    for u, types in seq.items():
        for t in types:
            eid += 1
            rows.append((u, base + dt.timedelta(minutes=eid), eid, t))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {r.path: (r.n, r.rank) for r in top_paths(df, k=10).collect()}
    assert got == {
        "a > b > c": (3, 1),
        "b > c > a": (1, 2),
        "c > a > b": (1, 3),
    }
    with pytest.raises(ValueError):
        top_paths(df, steps=1)


def test_top_paths_global_topk_is_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (per-task
    size-k heaps), NOT a single-partition row_number window over the
    whole path-count table — a high-cardinality type column would
    silently serialize on one task (VERDICT r5 item 6).  The rank
    window that remains runs over at most k rows post-limit."""
    from vtb_datafusion_2023_spark.operators.analytics import top_paths

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = top_paths(ev, k=20)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    with pytest.raises(ValueError, match="k must be"):
        top_paths(ev, k=0)
    with pytest.raises(ValueError, match="k must be"):
        top_paths(ev, k=10_000_000)


def test_embedding_drift_detects_planted_shift(spark):
    from vtb_datafusion_2023_spark.operators.similarity import embedding_drift

    a = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    # cohort b: dimension 1 shifted by +0.5, others identical
    b = spark.createDataFrame(
        [(i, [1.0, 2.5, 3.0]) for i in range(7)], "vec_id long, embedding array<double>"
    )
    got = {r.i: (r.mean_a, r.mean_b, r.delta) for r in embedding_drift(a, b).collect()}
    assert got[0] == (1.0, 1.0, 0.0)
    assert got[1] == (2.0, 2.5, -0.5)
    assert got[2] == (3.0, 3.0, 0.0)


def test_embedding_drift_partitioning_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import embedding_drift

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    a, b = emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
    one = sorted(map(tuple, embedding_drift(a.repartition(1), b.repartition(1)).collect()))
    many = sorted(map(tuple, embedding_drift(a.repartition(9), b.repartition(5)).collect()))
    assert one == many and len(one) > 0


def test_gap_histogram_buckets(spark):
    from vtb_datafusion_2023_spark.operators.analytics import gap_histogram

    base = dt.datetime(2024, 1, 1)
    offsets_s = [0, 0.5, 5, 65, 4000, 100000]  # gaps: 0.5s, 4.5s, 60s, ~1.1h, ~1.1d
    rows = [
        (1, base + dt.timedelta(seconds=s), i + 1) for i, s in enumerate(offsets_s)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {r.bucket: r.n for r in gap_histogram(df).collect()}
    # 0.5s->lt_1s, 4.5s->lt_10s, 60s->lt_10m (a boundary gap: exactly
    # 1m is NOT < 1m), 3935s->lt_1d, 96000s->ge_1d; empty buckets absent
    assert got == {"lt_1s": 1, "lt_10s": 1, "lt_10m": 1, "lt_1d": 1, "ge_1d": 1}


def test_softdedup_weights_group_mass(spark):
    from vtb_datafusion_2023_spark.operators.dedup import softdedup_weights

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
    )
    # pairs: {1,2,3} one cluster, {4} and {5} singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r.doc_id: (r.cluster_id, r.cluster_size, r.weight)
           for r in softdedup_weights(docs, pairs).collect()}
    third = 1.0 / 3.0
    assert got == {
        1: (1, 3, third), 2: (1, 3, third), 3: (1, 3, third),
        4: (4, 1, 1.0), 5: (5, 1, 1.0),
    }
    # every duplicate GROUP contributes total mass 1.0
    assert abs(sum(w for _, _, w in got.values()) - 3.0) < 1e-12


def test_planted_corpus_controlled_density(spark):
    """The in-plan planted-density corpus (ROADMAP item 6 fix) must (a)
    plant exactly one 90%-prefix near-dup per doc_id%10==0 doc, (b) keep
    base docs shingle-disjoint across salt groups (candidates linear),
    and (c) make every planted variant fully contained in its base."""
    from vtb_datafusion_2023_spark.operators.dedup import containment_pairs
    from vtb_datafusion_2023_spark.suite.datapipe import (
        _PLANTED_OFFSET,
        _planted_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = _planted_corpus(spark, sf).cache()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    n_planted = corpus.filter(f"doc_id >= {_PLANTED_OFFSET}").count()
    assert corpus.count() == n_docs + n_planted
    assert n_planted == (n_docs + 9) // 10

    rows = {r.doc_id: r.text for r in corpus.collect()}
    import math

    for did, text in rows.items():
        if did < _PLANTED_OFFSET:
            continue
        base = rows[did - _PLANTED_OFFSET].split(" ")
        var = text.split(" ")
        # the variant is a prefix of its base, ~90% of the tokens
        assert var == base[: len(var)]
        assert len(var) == max((len(base) * 9) // 10, 3)
    # base docs from different salt groups share zero tokens (=> zero
    # shingles): doc 0/1 share the '#0' salt, doc 2 is '#1'
    t0, t2 = set(rows[0].split(" ")), set(rows[2].split(" "))
    assert not (t0 & t2)

    # every planted variant is containment-1.0 inside its base
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(corpus, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    for did in rows:
        if did >= _PLANTED_OFFSET:
            assert pairs[(did, did - _PLANTED_OFFSET)] == 1.0
    corpus.unpersist()


def test_kcore_peels_tail_keeps_clique(spark):
    from vtb_datafusion_2023_spark.operators.graph import kcore

    # 4-clique (1-4) with a tail 4-5-6: k=3 peels the tail in one round
    # (deg(6)=1, deg(5)=2), the clique survives at degree 3 exactly
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    got = {r.node: r.degree for r in kcore(edges, k=3, iterations=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the densest core empties the graph
    assert kcore(edges, k=4, iterations=3).count() == 0
    with pytest.raises(ValueError):
        kcore(edges, k=0)


def test_kcore_cascading_peel_needs_multiple_rounds(spark):
    from vtb_datafusion_2023_spark.operators.graph import kcore

    # chain hung off a triangle: each round peels one more chain node —
    # the truncated recursion's round count is observable
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    # k=2: round1 peels 6, round2 peels 5, round3 peels 4 -> triangle
    got3 = {r.node for r in kcore(edges, k=2, iterations=3).collect()}
    assert got3 == {1, 2, 3}
    # with only 1 round, the truncation keeps the not-yet-peeled 4 and 5
    got1 = {r.node for r in kcore(edges, k=2, iterations=1).collect()}
    assert got1 == {1, 2, 3, 4, 5}
