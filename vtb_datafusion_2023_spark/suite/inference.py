"""Suite: REAL model inference U1/U2 and U4 (SURVEY §2.9) — the
reference's torch checkpoints executed weight-for-weight in numpy.

``nn_weights.ckpt`` (BiGRU transaction classifier, model.py:27-90) and
``vrae_5896.pth`` (LSTM encoder latent means, vrae/vrae.py:11-84) load
through the restricted numpy unpickler (``inference.torch_ckpt``) and
score through eval-mode numpy forwards (``inference.nn_numpy``) inside
``mapInPandas`` — one broadcast of the state dict, Arrow-batched rows,
results invariant to partitioning.

The driver's events table stands in for the reference's transaction CSV
(FIXTURES.md §1): derived mcc/currency codes are deterministic functions
of event columns, digitized by the REAL ``nn_bins.pickle`` edges (S5).
LSTM/GRU recurrences are not expressible in ANSI SQL, so these register
rows-only (no oracle); exact-value parity is pytest-covered against the
reference math (tests/test_nn_numpy.py differential tests).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..inference.udfs import REFERENCE_CBM, REFERENCE_RNN_CKPT, REFERENCE_VRAE_CKPT
from . import register
from ._util import SIGNED_AMT, T

_BINS_PATH = "/root/reference/nn_bins.pickle"

# The reference files each real-model head loads.  They ship only with
# the reference checkout; tests skip these heads, itemized, without them.
REFERENCE_ARTIFACTS: dict[str, tuple[str, ...]] = {
    "u1_rnn_scores": (_BINS_PATH, REFERENCE_RNN_CKPT),
    "u4_vrae_latents": (REFERENCE_VRAE_CKPT,),
    "u6_catboost_cbm": (REFERENCE_CBM,),
}


def missing_reference_artifacts(name: str) -> list[str]:
    """The files ``name`` loads that are absent here (empty if none)."""
    return [p for p in REFERENCE_ARTIFACTS.get(name, ()) if not os.path.exists(p)]


_VOCAB = ["click", "error", "purchase", "refund", "signup", "view"]


def _tx_like(spark, sf_dir):
    """events -> the reference transaction-log shape (model.py:208-219).

    mcc_code / currency_rk don't exist in events; derive them
    deterministically (xxhash64 into the mcc range, user-keyed currency
    pick) so the digitize step exercises the real bin edges.
    """
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "ts",
        F.col("event_id").alias("ord"),
        F.expr(SIGNED_AMT).alias("transaction_amt"),
        (F.pmod(F.xxhash64("event_type"), F.lit(8600)) + F.lit(742)).alias("mcc_code"),
        F.element_at(
            F.array(F.lit(48), F.lit(50), F.lit(60)),
            (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
        ).alias("currency_rk"),
        F.hour("ts").alias("hour"),
        F.expr("(dayofweek(ts)+6)%7").alias("day"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("number_day"),
    )


@register(
    "u1_rnn_scores",
    oracle=None,  # GRU recurrence is not SQL-expressible; rows-only gate
    survey_ref="U1,U2,U6,S5,W4,W7",
    doc="REAL TransactionsRnn scoring: nn_bins digitize -> last-300 "
    "zero-padded sequences -> broadcast nn_weights.ckpt -> numpy BiGRU "
    "forward in mapInPandas (model.py:27-90,167-240).",
)
def u1_rnn_scores(spark, sf_dir):
    from ..inference.udfs import rnn_scorer_model, score_rnn_sequences
    from ..plans.sequences import rnn_input_sequences
    from ..sources.artifacts import load_bin_edges

    bins = load_bin_edges(_BINS_PATH)  # S5: the reference's real artifact
    seqs = rnn_input_sequences(_tx_like(spark, sf_dir), bins, seq_len=300)
    return (
        score_rnn_sequences(seqs, rnn_scorer_model(), id_col="user_id", seq_col="seq")
        .withColumnRenamed("vec_id", "user_id")
        .select("user_id", "score")
    )


@register(
    "u4_vrae_latents",
    oracle=None,  # LSTM recurrence is not SQL-expressible; rows-only gate
    survey_ref="U4,W1,W2,W3,W7,P5",
    doc="REAL VRAE latent extraction: one-hot + z-score + cumsum + "
    "re-anchor sequences -> broadcast vrae_5896.pth -> numpy LSTM encoder "
    "latent means in mapInPandas (run.py:88-137,176-178; "
    "vrae/vrae.py:11-84,440-455).  40 latent dims exploded to "
    "(user_id, dim, value) so the row-count gate sees every value.",
)
def u4_vrae_latents(spark, sf_dir):
    from ..inference.udfs import encode_with_vrae, vrae_encoder_model
    from ..plans.sequences import vrae_input_sequences

    tx = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.col("event_id").alias("ord"),
        F.expr(SIGNED_AMT).alias("amt"),
        F.col("event_type").alias("cat"),
    )
    seqs = vrae_input_sequences(tx, cat_vocab=_VOCAB)
    lat = encode_with_vrae(seqs, vrae_encoder_model(), id_col="user_id", seq_col="seq")
    return lat.select(
        "user_id", F.posexplode("latent").alias("dim", "value")
    )


# ---------------------------------------------------------------------------
# U4 hash twin (VERDICT r5 item 4): the SAME VraeEncoder/encode_with_vrae
# code path — numpy lstm_layer recurrence + hidden_to_mean projection in
# mapInPandas — but with FIXED small dyadic weights (hidden=2, features=2,
# latent=2, T=3), so the DuckDB oracle can replay the recurrence unrolled
# (the gr_pagerank/ml_kmeans pattern) and the VRAE code path gets a
# driver HASH row instead of rows-only.  Pre-activation arithmetic is
# dyadic-exact on both engines; exp/tanh agree to ulp and the surface's
# 5-digit rounding (encode_with_vrae round_digits) absorbs that, exactly
# as for the real-checkpoint surfaces.  Reference semantics:
# /root/reference/vrae/vrae.py:420-455 (Encoder.forward + hidden_to_mean).

_TW_T = 3  # timesteps per user
# all weights are multiples of 1/16: exact in float32/float64 and in the
# SQL literal text, so the only inexact ops are exp/tanh and the final
# IEEE sums — whose op order the oracle replays exactly.  No bias is 0,
# so no gate pre-activation can be a signed zero (see step-1 note below).
_TW_WIH = [[0.25, -0.5], [-0.375, 0.125], [0.5, 0.25], [-0.125, -0.25],
           [0.375, -0.0625], [-0.5, 0.3125], [0.125, 0.4375], [-0.25, -0.375]]
_TW_WHH = [[-0.3125, 0.25], [0.4375, -0.125], [-0.0625, 0.375], [0.1875, -0.5],
           [-0.4375, 0.0625], [0.3125, -0.1875], [-0.25, 0.5], [0.125, -0.3125]]
_TW_BIH = [-0.5, 0.25, -0.125, 0.375, -0.25, 0.125, 0.5, -0.375]
_TW_BHH = [0.1875, -0.3125, 0.0625, -0.1875, 0.3125, -0.0625, 0.4375, -0.4375]
_TW_WM = [[0.5, -0.25], [0.375, 0.125]]
_TW_BM = [0.0625, -0.125]


def _twin_state_dict():
    import numpy as np

    return {
        "encoder.model.weight_ih_l0": np.array(_TW_WIH, dtype=np.float64),
        "encoder.model.weight_hh_l0": np.array(_TW_WHH, dtype=np.float64),
        "encoder.model.bias_ih_l0": np.array(_TW_BIH, dtype=np.float64),
        "encoder.model.bias_hh_l0": np.array(_TW_BHH, dtype=np.float64),
        "lmbd.hidden_to_mean.weight": np.array(_TW_WM, dtype=np.float64),
        "lmbd.hidden_to_mean.bias": np.array(_TW_BM, dtype=np.float64),
    }


def _twin_oracle() -> str:
    """Unrolled 3-step LSTM recurrence + latent projection, following
    nn_numpy.lstm_layer's exact IEEE op order: gates =
    ((x·w_ih + b_ih) + h·w_hh) + b_hh (step 1 omits the h·w_hh term —
    h0 = +0.0 makes it a signed-zero-safe IEEE identity because no gate
    pre-activation can be ±0.0 with the nonzero biases above);
    c' = (f*c) + (i*g); h' = o*tanh(c'); sigmoid in _sigmoid's
    stable-branch form."""

    def sig(g: str) -> str:
        return (
            f"(case when {g} >= 0 then 1.0/(1.0 + exp(-abs({g}))) "
            f"else exp(-abs({g}))/(1.0 + exp(-abs({g}))) end)"
        )

    def th(g: str) -> str:
        # DuckDB 1.0.0 ships no tanh: the stable exp identity
        # tanh(x) = sign(x) * (1 - e^-2|x|)/(1 + e^-2|x|) agrees with
        # np.tanh to ~1-2 ulp, absorbed by the surface's 5-digit rounding
        return (
            f"(case when {g} >= 0 then (1.0 - exp(-2.0*abs({g})))/(1.0 + exp(-2.0*abs({g}))) "
            f"else -((1.0 - exp(-2.0*abs({g})))/(1.0 + exp(-2.0*abs({g})))) end)"
        )

    sql = f"""
with e as (
  select user_id,
         row_number() over (partition by user_id order by ts, event_id) as rn,
         cast(event_id % 16 as double)/16.0 as x1,
         cast((event_id * 7) % 16 as double)/16.0 as x2
  from events
),
s as (
  select user_id,
         {", ".join(f"max(case when rn={t} then x1 end) as x1_{t}, max(case when rn={t} then x2 end) as x2_{t}" for t in range(1, _TW_T + 1))}
  from e where rn <= {_TW_T}
  group by user_id having count(*) = {_TW_T}
)"""
    prev = "s"
    for t in range(1, _TW_T + 1):
        gates = []
        for r in range(8):
            gx = (
                f"(((x1_{t} * {_TW_WIH[r][0]!r}) + (x2_{t} * {_TW_WIH[r][1]!r}))"
                f" + {_TW_BIH[r]!r})"
            )
            if t == 1:
                g = f"({gx} + {_TW_BHH[r]!r})"
            else:
                hw = (
                    f"((h{t-1}_1 * {_TW_WHH[r][0]!r})"
                    f" + (h{t-1}_2 * {_TW_WHH[r][1]!r}))"
                )
                g = f"(({gx} + {hw}) + {_TW_BHH[r]!r})"
            gates.append(f"{g} as g{t}_{r}")
        sql += f""",
g{t} as (
  select *, {", ".join(gates)}
  from {prev}
)"""
        cells = []
        for j in range(1, 3):
            i_ = sig(f"g{t}_{j-1}")
            f_ = sig(f"g{t}_{j+1}")
            gc = th(f"g{t}_{j+3}")
            o_ = sig(f"g{t}_{j+5}")
            if t == 1:
                c = f"({i_} * {gc})"
            else:
                c = f"(({f_} * c{t-1}_{j}) + ({i_} * {gc}))"
            cells.append(f"{c} as c{t}_{j}")
            cells.append(f"({o_} * {th(f'c{t}_{j}')}) as h{t}_{j}")
        # two chained selects so h can reference the just-defined c
        sql += f""",
c{t} as (
  select *, {", ".join(c for c in cells if " as c" in c)} from g{t}
),
h{t} as (
  select *, {", ".join(c for c in cells if " as h" in c)} from c{t}
)"""
        prev = f"h{t}"
    lats = []
    for j in range(2):
        lats.append(
            f"round(((h{_TW_T}_1 * {_TW_WM[j][0]!r}) + (h{_TW_T}_2 * {_TW_WM[j][1]!r}))"
            f" + {_TW_BM[j]!r}, 5) as lat{j}"
        )
    return sql + f""",
lat as (select user_id, {", ".join(lats)} from {prev})
select user_id, cast(0 as int) as dim, lat0 as value from lat
union all
select user_id, cast(1 as int) as dim, lat1 as value from lat
"""


@register(
    "u4_vrae_twin",
    oracle=_twin_oracle(),
    survey_ref="U4,W7",
    doc="U4 hash twin: the real VraeEncoder/encode_with_vrae code path "
    "(numpy LSTM recurrence + hidden_to_mean in mapInPandas) under fixed "
    "dyadic 2x2 weights over each user's first 3 events, so the DuckDB "
    "oracle replays the recurrence unrolled (gr_pagerank pattern) and "
    "the VRAE path gets a driver hash row (vrae/vrae.py:420-455).",
)
def u4_vrae_twin(spark, sf_dir):
    from pyspark.sql.window import Window

    from ..inference.udfs import BroadcastModel, encode_with_vrae

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    steps = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TW_T)
        .select(
            "user_id",
            "_rn",
            (F.pmod(F.col("event_id"), F.lit(16)).cast("double") / F.lit(16.0)).alias("_x1"),
            (F.pmod(F.col("event_id") * 7, F.lit(16)).cast("double") / F.lit(16.0)).alias("_x2"),
        )
    )
    seqs = (
        steps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr(
                "transform(array_sort(collect_list(struct(_rn, _x1, _x2))), "
                "s -> array(s._x1, s._x2))"
            ).alias("seq"),
        )
        .filter(F.col("_n") == _TW_T)
        .select("user_id", "seq")
    )
    lat = encode_with_vrae(
        seqs,
        BroadcastModel(kind="numpy_vrae", payload=_twin_state_dict()),
        id_col="user_id",
        seq_col="seq",
    )
    return lat.select("user_id", F.posexplode("latent").alias("dim", "value"))


# ---------------------------------------------------------------------------
# U6 with the REAL CatBoost model: the reference's .cbm parsed from the
# public flatbuffers format (inference/cbm.py) and scored as exact int64
# leaf sums — which makes GBDT inference SQL-replayable, so this entry is
# fully DuckDB-hash-gated (unlike the RNN/VRAE recurrences above).

# Each mapped feature sweeps its own border range, driven by a distinct
# (prime, modulus) of c_custkey — all-integer SQL arithmetic, then one
# exact /64.0, so Spark and DuckDB binarize identical IEEE doubles.
_CBM_FEATURES = [  # (model feature name, prime, modulus)
    ("mcc_proc_cred-9222", 37, 97),
    ("nn_predict", 61, 89),
    ("mcc_proc_cred-5992", 101, 83),
    ("dm_freq-10", 151, 79),
    ("mcc_proc_cred-4121", 197, 73),
    ("mcc_proc_cred-7999", 251, 71),
]


def _cbm_feature_exprs(model):
    """SQL expression per mapped feature (same string on both engines)."""
    pos_of = {model.feature_names[model.flat_index[i]]: i for i in range(len(model.flat_index))}
    exprs = {}
    for name, prime, mod in _CBM_FEATURES:
        borders = model.bin_border[model.bin_feat == pos_of[name]]
        bmin, span = float(borders.min()), float(borders.max() - borders.min())
        exprs[name] = (
            f"{bmin!r} + {span!r} * (CAST((c_custkey * {prime}) % {mod} AS DOUBLE) / 64.0)"
        )
    return exprs


def _cbm_oracle() -> str | None:
    if missing_reference_artifacts("u6_catboost_cbm"):
        return None  # artifact-less environment: rows-only gate
    from ..inference.cbm import CbmModel, oracle_sql

    model = CbmModel.load(REFERENCE_CBM)
    return oracle_sql(
        model, _cbm_feature_exprs(model), source_sql="customer", id_expr="c_custkey"
    )


@register(
    "u6_catboost_cbm",
    oracle=_cbm_oracle(),
    survey_ref="U6,J5,S5",
    doc="REAL CatBoost scoring: model_cb.cbm (750 oblivious trees, 825 "
    "features) parsed from the public flatbuffers .cbm format without "
    "catboost, broadcast once, scored vectorized in mapInPandas "
    "(run.py:466-475).  Leaf values quantized to int64 units of 2**-36 "
    "make the score an exact integer sum — partitioning-invariant and "
    "replayed split-for-split by the generated DuckDB oracle.",
)
def u6_catboost_cbm(spark, sf_dir):
    from ..inference.cbm import CbmModel
    from ..inference.udfs import catboost_cbm_model, score_catboost

    model = CbmModel.load(REFERENCE_CBM)
    exprs = _cbm_feature_exprs(model)
    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("vec_id"),
        *[F.expr(e).alias(name) for name, e in exprs.items()],
    )
    return score_catboost(cust, catboost_cbm_model(REFERENCE_CBM), id_col="vec_id")
