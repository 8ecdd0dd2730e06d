"""Streaming suite entries (SURVEY §2.10 extension, ROADMAP #3).

Each streaming query is replayed to completion over the finite events
parquet (``availableNow`` trigger -> memory sink) and its FINAL state is
compared bitwise against DuckDB SQL over the same file — upgrading the
streaming surface from batch-parity tests to t2-grade oracle evidence.
The replay harness is ``streaming.events.replay_to_table``.

The reference itself is batch-only (/root/reference/run.py — single
``python run.py`` invocation, metadata.json:3); these operators are the
engine's Structured Streaming re-expression of its event-time shapes
(hour buckets run.py:397-399, per-user running state run.py:110-126).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .. import sqlgen
from ..sources.readers import load_table
from ..streaming.events import (
    read_events_stream,
    replay_to_table,
    session_window_agg,
    stream_dedup_within_watermark,
    windowed_event_counts,
    windowed_user_spend,
)
from . import register

_GAP = "30 minutes"

_SESSION_ORACLE = f"""
with b as (
  select user_id, ts, value,
         case when lag(ts) over (partition by user_id order by ts) is null
                or ts - lag(ts) over (partition by user_id order by ts)
                   >= interval {_GAP}
              then 1 else 0 end as brk
  from events
), s as (
  select *, sum(brk) over (partition by user_id order by ts
                           rows between unbounded preceding and current row) as sid
  from b
)
select user_id,
       min(ts) as session_start,
       max(ts) + interval {_GAP} as session_end,
       count(*) as n_events,
       {sqlgen.dsum('value', 'total_value')}
from s
group by user_id, sid
"""


@register(
    "st_windowed_counts",
    oracle="""
select cast(date_trunc('hour', ts) as timestamp) as win_start,
       event_type,
       count(*) as n
from events
group by 1, 2
""",
    survey_ref="streaming-windowed-counts",
    doc="streaming A4: watermarked 1h tumbling windows x event_type, "
    "replayed to completion; final state == batch hourly counts.",
)
def st_windowed_counts(spark, sf_dir):
    stream = windowed_event_counts(read_events_stream(spark, sf_dir))
    out = replay_to_table(spark, stream, mode="complete")
    return out.select("win_start", "event_type", "n")


@register(
    "st_windowed_spend",
    oracle=f"""
select make_timestamp(cast(floor(epoch(ts)/21600) as bigint)*21600*1000000)
         as win_start,
       user_id,
       {sqlgen.dsum('value', 'spend')}
from events
group by 1, 2
""",
    survey_ref="streaming-windowed-spend",
    doc="streaming A5/W1: 6h tumbling per-user value totals "
    "(decimal-exact sum), replayed to completion.",
)
def st_windowed_spend(spark, sf_dir):
    stream = windowed_user_spend(read_events_stream(spark, sf_dir))
    return replay_to_table(spark, stream, mode="complete")


@register(
    "st_stream_dedup",
    oracle="select distinct user_id, event_type from events",
    survey_ref="streaming-dedup",
    doc="streaming exact dedup: dropDuplicates over the replayed stream "
    "emits each (user_id, event_type) once; production form bounds state "
    "with dropDuplicatesWithinWatermark.",
)
def st_stream_dedup(spark, sf_dir):
    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return replay_to_table(spark, stream, mode="append")


@register(
    "st_stream_dedup_wm",
    oracle="select distinct user_id, event_type from events",
    survey_ref="streaming-dedup",
    doc="watermark-bounded streaming dedup (dropDuplicatesWithinWatermark): "
    "state per key is dropped once the watermark passes the delay — the "
    "unbounded-ingest production form.  Replayed with a delay covering "
    "the fixture's full time span, so the result equals global distinct.",
)
def st_stream_dedup_wm(spark, sf_dir):
    stream = stream_dedup_within_watermark(
        read_events_stream(spark, sf_dir),
        keys=["user_id", "event_type"],
        delay="3650 days",
    ).select("user_id", "event_type")
    return replay_to_table(spark, stream, mode="append")


@register(
    "sw_session_window",
    oracle=_SESSION_ORACLE,
    survey_ref="session-window",
    doc="declarative sessionization (session_window, 30 min gap) — batch "
    "form of the streaming operator; oracle = gaps-and-islands SQL.",
)
def sw_session_window(spark, sf_dir):
    return session_window_agg(load_table(spark, sf_dir, "events"), gap=_GAP)


@register(
    "st_attribution_join",
    oracle="""
select t.user_id,
       t.event_id as trigger_id,
       c.event_id as convert_id,
       (epoch_us(c.ts) - epoch_us(t.ts)) as delay_us,
       c.value as convert_value
from events t join events c on t.user_id = c.user_id
where t.event_type = 'click' and c.event_type = 'purchase'
  and c.ts > t.ts and c.ts <= t.ts + interval 1 hour
""",
    survey_ref="streaming-interval-join",
    doc="stream-stream attribution join (click -> purchase within 1h per "
    "user), watermark-bounded state, replayed to completion; bitwise "
    "equal to the batch interval join.",
)
def st_attribution_join(spark, sf_dir):
    from ..streaming.events import attribution_join

    stream = attribution_join(read_events_stream(spark, sf_dir))
    return replay_to_table(spark, stream, mode="append")


@register(
    "st_static_enrich",
    oracle=f"""
select c_mktsegment, count(*) as n, {sqlgen.dsum("value", "total_value")}
from events join customer on user_id = c_custkey
group by c_mktsegment
""",
    survey_ref="st-stream-static-join",
    doc="stream-static enrichment: events stream broadcast-joined to the "
    "customer dim per micro-batch (stateless), then aggregated; replayed "
    "final state bitwise-matches the batch join.",
)
def st_static_enrich(spark, sf_dir):
    from ..streaming.events import enrich_stream

    ev = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        enrich_stream(ev, dim, on=F.expr("user_id = c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(sqlgen.dsum("value", "total_value")),
        )
    )
    return replay_to_table(spark, agg, mode="complete")


@register(
    "st_attribution_outer",
    oracle="""
select t.user_id,
       t.event_id as trigger_id,
       c.event_id as convert_id,
       (epoch_us(c.ts) - epoch_us(t.ts)) as delay_us,
       c.value as convert_value
from (select * from events where event_type = 'click') t
left join (select * from events where event_type = 'purchase') c
  on t.user_id = c.user_id
 and c.ts > t.ts and c.ts <= t.ts + interval 1 hour
""",
    survey_ref="streaming-outer-join",
    doc="stream-stream LEFT OUTER interval join: unmatched clicks emit "
    "null conversions once the watermark passes their expiry (a sentinel "
    "event advances the final watermark during replay — harness plumbing "
    "only); bitwise equal to the batch left interval join.",
)
def st_attribution_outer(spark, sf_dir):
    from ..streaming.events import (
        SENTINEL_USER,
        attribution_join,
        events_stream_with_sentinel,
        replay_to_table,
    )

    ev = events_stream_with_sentinel(spark, sf_dir)
    stream = attribution_join(ev, how="leftOuter")
    out = replay_to_table(spark, stream, mode="append")
    return out.filter(F.col("user_id") != SENTINEL_USER)


@register(
    "st_attribution_full",
    oracle="""
select t.user_id as trig_user,
       c.user_id as conv_user,
       t.event_id as trigger_id,
       c.event_id as convert_id,
       (epoch_us(c.ts) - epoch_us(t.ts)) as delay_us,
       c.value as convert_value
from (select * from events where event_type = 'click') t
full outer join (select * from events where event_type = 'purchase') c
  on t.user_id = c.user_id
 and c.ts > t.ts and c.ts <= t.ts + interval 1 hour
""",
    survey_ref="streaming-full-outer-join",
    doc="stream-stream FULL OUTER interval join: unmatched rows on BOTH "
    "sides emit with nulls once the watermark passes their expiry — "
    "unattributed clicks AND organic purchases in one pass; bitwise "
    "equal to the batch full interval join (the sentinel advances the "
    "closing watermark during replay).",
)
def st_attribution_full(spark, sf_dir):
    from ..streaming.events import (
        SENTINEL_USER,
        attribution_join_full,
        events_stream_with_sentinel,
        replay_to_table,
    )

    ev = events_stream_with_sentinel(spark, sf_dir)
    stream = attribution_join_full(ev)
    out = replay_to_table(spark, stream, mode="append")
    return out.filter(
        (F.col("trig_user").isNull() | (F.col("trig_user") != SENTINEL_USER))
        & (F.col("conv_user").isNull() | (F.col("conv_user") != SENTINEL_USER))
    )


def _two_batch_dedup_ingest(spark, sf_dir, hash_family: str):
    """Replay the documents through ``streaming_dedup_ingest`` as two
    micro-batches, even doc_ids then odd, and return the final clean
    corpus ``(doc_id)``.  The signature is narrow (16 perms / 4 bands,
    Jaccard 0.5): the gate certifies the pipeline shape, not recall —
    pytest covers the wide settings.

    The file source orders batches by (mtime, path), so the two source
    files' mtimes are pinned.  Everything the replay writes (source
    files, corpus, index, checkpoint) lives under one temp root, which
    is removed once the corpus ids are pinned by an eager
    ``localCheckpoint``."""
    import os
    import shutil
    import tempfile

    from ..sources.manifest import read_versioned
    from ..streaming.dedup import streaming_dedup_ingest

    root = tempfile.mkdtemp(prefix="spark_graft_stdedup_")
    try:
        src = f"{root}/src"
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for i in range(2):
            docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stamp = 1_000_000_000 + (i + 1) * 100
            for f in os.listdir(src):
                full = os.path.join(src, f)
                if f.endswith(".parquet") and os.stat(full).st_mtime >= stamp:
                    os.utime(full, (stamp, stamp))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_dedup_ingest(
            stream,
            f"{root}/corpus",
            f"{root}/index",
            f"{root}/ckpt",
            jaccard_threshold=0.5,
            num_perm=16,
            bands=4,
            hash_family=hash_family,
        )
        corpus = read_versioned(spark, f"{root}/corpus").select("doc_id")
        return corpus.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "st_dedup_ingest",
    oracle=None,  # foreachBatch pipeline with versioned-table side effects;
    # admit-only-novel + replay-idempotency are pytest-certified
    # (tests/test_streaming_dedup.py)
    survey_ref="stream-dedup-ingest",
    doc="streaming ingest dedup: per micro-batch, band the docs, probe "
    "the accumulated MinHash index ((band,bucket) equi-join — history "
    "never re-banded), verify exact Jaccard against the versioned corpus "
    "with join-pruned lookups, append survivors to corpus + index "
    "(manifest commit, done-marker idempotent).  Returns the final clean "
    "corpus.",
)
def st_dedup_ingest(spark, sf_dir):
    return _two_batch_dedup_ingest(spark, sf_dir, "xxhash64")


def _stream_dedup_md5_oracle(
    num_perm: int = 16, bands: int = 4, shingle_n: int = 3, t: float = 0.5
) -> str:
    """DuckDB replay of the ENTIRE two-batch md5 streaming ingest-dedup:
    shingle -> md5-permutation mins -> band buckets (deterministic, so
    the stream's persisted index equals re-banding), then the exact
    admit rule per batch — batch 0 (even doc_ids) self-dedups, batch 1
    (odd ids) dedups against itself AND the accepted batch-0 corpus:
    drop the new side of every verified pair, keep-first (lower id)
    within the batch.  Mirrors ``streaming.dedup._dedup_one_batch``
    clause for clause."""
    r = num_perm // bands
    n1 = shingle_n - 1
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len(tk) - {n1}, 1) + 1), "
        f"i -> array_to_string(tk[i:i+{n1}], ' ')))"
    )
    mins = ", ".join(f"min(md5('{p}:' || _s)) as m{p}" for p in range(num_perm))
    band_rows = "\n  union all\n  ".join(
        f"select _id, {b} as band, md5(concat_ws('|', "
        + ", ".join(f"m{b * r + j}" for j in range(r))
        + ")) as bucket from sigs"
        for b in range(bands)
    )
    return f"""
with sh as (
  select doc_id as _id, unnest({shingles}) as _s
  from (select doc_id, string_split(text, ' ') as tk from documents)
),
sigs as (select _id, {mins} from sh group by _id),
banded as (
  {band_rows}
),
sizes as (select _id, count(*) as _sz from sh group by _id),
cand0 as (
  select distinct l._id as id_a, r._id as id_b
  from banded l join banded r on l.band = r.band and l.bucket = r.bucket
                             and l._id < r._id
  where l._id % 2 = 0 and r._id % 2 = 0
),
inter0 as (
  select c.id_a, c.id_b, count(*) as _i
  from cand0 c
  join sh a on a._id = c.id_a
  join sh b on b._id = c.id_b and a._s = b._s
  group by 1, 2
),
pairs0 as (
  select id_a, id_b from inter0
  join sizes sa on inter0.id_a = sa._id
  join sizes sb on inter0.id_b = sb._id
  where (_i / (sa._sz + sb._sz - _i)) >= {t}
),
acc0 as (
  select doc_id as _id from documents where doc_id % 2 = 0
  except
  select id_b from pairs0
),
cand1 as (
  select distinct least(l._id, r._id) as id_a, greatest(l._id, r._id) as id_b
  from banded l join banded r on l.band = r.band and l.bucket = r.bucket
                             and l._id <> r._id
  where l._id % 2 = 1
    and (r._id % 2 = 1 or r._id in (select _id from acc0))
),
inter1 as (
  select c.id_a, c.id_b, count(*) as _i
  from cand1 c
  join sh a on a._id = c.id_a
  join sh b on b._id = c.id_b and a._s = b._s
  group by 1, 2
),
pairs1 as (
  select id_a, id_b from inter1
  join sizes sa on inter1.id_a = sa._id
  join sizes sb on inter1.id_b = sb._id
  where (_i / (sa._sz + sb._sz - _i)) >= {t}
),
drops1 as (
  select id_b as _id from pairs1 where id_b % 2 = 1
  union
  select id_a from pairs1 where id_a % 2 = 1 and id_b % 2 = 0
),
acc1 as (
  select doc_id as _id from documents where doc_id % 2 = 1
  except
  select _id from drops1
)
select _id as doc_id from acc0
union all
select _id as doc_id from acc1
"""


@register(
    "st_dedup_ingest_md5",
    oracle=_stream_dedup_md5_oracle(),
    survey_ref="stream-dedup-ingest",
    doc="md5-family twin of st_dedup_ingest, HASH-GATED: the same "
    "foreachBatch ingest-dedup pipeline (band -> probe accumulated "
    "index -> verify -> append survivors) with the oracle-replayable "
    "md5 banding, so the final clean corpus after two micro-batches is "
    "certified bitwise against a two-stage SQL replay of the admit "
    "rule.  File mtimes are pinned so micro-batch order (evens then "
    "odds) is deterministic.",
)
def st_dedup_ingest_md5(spark, sf_dir):
    return _two_batch_dedup_ingest(spark, sf_dir, "md5")


@register(
    "st_drift_psi",
    oracle=None,  # set below: identical formula to an_drift_psi
    survey_ref="streaming-drift",
    doc="streaming drift monitor: the live side's per-bin counts run as a "
    "real streaming aggregation (complete mode, bounded state = B bins) "
    "replayed to completion; the final counts feed the shared PSI "
    "epilogue, so end-state PSI is batch-identical and hash-gated.",
)
def st_drift_psi(spark, sf_dir):
    from ..operators.profile import psi_from_counts
    from ..operators.projections import bin_by_edges
    from .datapipe import _PSI_EDGES

    ref = (
        load_table(spark, sf_dir, "events")
        .filter(F.expr("user_id % 2 = 0"))
        .select(bin_by_edges("value", _PSI_EDGES).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    live_stream = (
        read_events_stream(spark, sf_dir)
        .filter(F.expr("user_id % 2 = 1"))
        .select(bin_by_edges("value", _PSI_EDGES).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    live = replay_to_table(spark, live_stream, mode="complete")
    return psi_from_counts(ref, live, _PSI_EDGES)


def _late_bind_psi_oracle() -> None:
    from . import REGISTRY, QuerySpec
    from .datapipe import _psi_oracle

    spec = REGISTRY["st_drift_psi"]
    REGISTRY["st_drift_psi"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_psi_oracle(),
        survey_ref=spec.survey_ref,
        doc=spec.doc,
    )


_late_bind_psi_oracle()


_ST_OLS_ANCHOR = 1704067200  # 2024-01-01T00:00:00Z (suite.datapipe._TREND_ANCHOR)

_ST_OLS_SLOPE, _ST_OLS_ICEPT = sqlgen.ols_from_sums(
    "count(*)",
    sqlgen.fsum("_x"),
    sqlgen.fsum("_y"),
    sqlgen.fsum("(_x) * (_y)"),
    sqlgen.fsum("(_x) * (_x)"),
)


@register(
    "st_trend_ols",
    oracle=f"""
with p as (
  select user_id,
         cast(cast(floor((cast(floor(epoch(ts)) as bigint) - {_ST_OLS_ANCHOR}) / 3600)
                   as bigint) as double) as _x,
         value as _y
  from events
  where ts is not null and value is not null
)
select user_id, cast(count(*) as bigint) as n,
       {_ST_OLS_SLOPE} as slope,
       {_ST_OLS_ICEPT} as intercept
from p group by user_id
""",
    survey_ref="rollup-ols",
    doc="streaming-maintained per-user OLS trend: the mergeable integer "
    "moment state (rollup.partial_ols) IS a streaming aggregation — "
    "micro-batches update n/Sx/Sy/Sxy/Sxx exactly, and the replayed "
    "final state finishes (ols_estimate) bitwise equal to the batch "
    "full-recompute oracle.  The regression analogue of the windowed-"
    "sum heads: maintained coefficients at ingest time, no rescans.",
)
def st_trend_ols(spark, sf_dir):
    from ..functions.temporal import hours_since
    from ..operators.rollup import ols_estimate, partial_ols

    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            hours_since(F.col("ts"), _ST_OLS_ANCHOR).cast("double").alias("hx"),
            "value",
        )
    )
    state = partial_ols(ev, ["user_id"], "hx", "value")
    tbl = replay_to_table(spark, state, mode="complete")
    return ols_estimate(tbl).select(
        "user_id", F.col("n").cast("bigint").alias("n"), "slope", "intercept"
    )
