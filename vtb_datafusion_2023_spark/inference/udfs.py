"""Model-inference surfaces U1/U4/U6 (SURVEY §2.9): Arrow-batched
``mapInPandas`` wrappers with broadcast artifacts.

The reference ships torch checkpoints + a CatBoost model and scores with
single-node loops (/root/reference/model.py:27-145, run.py:466-475).  The
Spark-native pattern is identical for any model family:

1. load the artifact once on the driver (S5 sidecar load),
2. ``sc.broadcast`` the weights,
3. ``mapInPandas`` batches through a scorer that lazily materializes the
   model per executor (torch/CatBoost import inside the closure),
4. emit (id, score) — joins back into the feature assembly (J2).

torch/catboost are not dependencies: the reference checkpoints load into
numpy (``torch_ckpt``/``nn_numpy``, ``cbm``), and ``score_with_model``
is a deterministic linear model over the same plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


@dataclass
class BroadcastModel:
    """Artifact container shipped to executors (S5 -> broadcast)."""

    kind: str  # 'linear' | 'cbm' | 'numpy_rnn' | 'numpy_vrae'
    payload: object  # weights vector / cbm arrays / numpy state dict


def linear_scorer(weights: list[float]) -> BroadcastModel:
    return BroadcastModel(kind="linear", payload=np.asarray(weights, dtype=np.float64))


SCORE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), True),
    ]
)


def score_with_model(
    df: DataFrame,
    model: BroadcastModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """U6-style batched scoring: (id, vector) -> (id, score).

    The model rides a Spark broadcast; per-batch scoring is vectorized
    numpy (Arrow in, Arrow out).  The sequential-fold dot product keeps
    the score deterministic; results are rounded to ``round_digits`` (the
    cross-engine contract for Python-side float math — unlike the SQL
    fragments, numpy cannot share IEEE op order with an oracle engine).
    """
    sc = df.sparkSession.sparkContext
    # broadcast a PLAIN dict, not the dataclass: Spark broadcasts unpickle
    # on executor Python workers that may not have this package on their
    # path — builtin types always deserialize.
    b = sc.broadcast({"kind": model.kind, "payload": model.payload})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = b.value
        if m["kind"] != "linear":  # pragma: no cover
            raise NotImplementedError(f"score_with_model scores linear models, not {m['kind']}")
        w = m["payload"]
        for pdf in batches:
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # sequential fold, not BLAS dot: deterministic accumulation order
            acc = np.zeros(len(vecs))
            for j in range(vecs.shape[1]):
                acc = acc + vecs[:, j] * w[j]
            if round_digits is not None:
                acc = np.round(acc, round_digits)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"), "score": acc})

    return df.select(id_col, vec_col).mapInPandas(run, schema=SCORE_SCHEMA)


# ---------------------------------------------------------------------------
# Real reference weights, no torch: the checkpoints load through the
# restricted numpy unpickler (torch_ckpt) and score through the eval-mode
# numpy forwards (nn_numpy).  U1/U2 and U4 are thereby REAL model
# executions, not stand-ins — same broadcast + mapInPandas plumbing.

REFERENCE_RNN_CKPT = "/root/reference/nn_weights.ckpt"
REFERENCE_VRAE_CKPT = "/root/reference/model_dir/vrae_5896.pth"
REFERENCE_CBM = "/root/reference/model_dir/model_cb.cbm"
REFERENCE_CBM_VRAE = "/root/reference/model_dir/model_cb_vrae.cbm"


def catboost_cbm_model(path: str = REFERENCE_CBM) -> BroadcastModel:
    """U6: the reference's real CatBoost model (run.py:466-468) parsed
    from the public ``.cbm`` flatbuffers format — no catboost install.

    The payload is ``CbmModel.payload()``: plain numpy arrays (tree
    structure, borders, quantized leaves) safe to broadcast to bare
    executor Python workers."""
    from .cbm import CbmModel

    return BroadcastModel(kind="cbm", payload=CbmModel.load(path).payload())


CBM_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("score_q", T.LongType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)


def score_catboost(df: DataFrame, model: BroadcastModel, id_col: str = "vec_id") -> DataFrame:
    """Real oblivious-tree GBDT scoring over a wide feature row (U6,
    run.py:466-475).

    Columns are conformed BY NAME to the model's input features (J5:
    run.py:470-475 — missing model columns scored at 0, extra frame
    columns ignored).  Output per row: ``score_q`` — the exact int64
    leaf sum in units of 2**-36 (bitwise stable under any partitioning
    and replayable in plain SQL, see ``cbm.oracle_sql``) — and ``score``
    = scale * q/2**36 + bias, the raw logit; sigmoid of it reproduces
    catboost ``predict_proba[:, 1]``.
    """
    from .cbm import LEAF_SCALE, matrix_from_pandas_payload, score_q_payload

    sc = df.sparkSession.sparkContext
    b = sc.broadcast({"kind": model.kind, "payload": model.payload})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = b.value["payload"]
        for pdf in batches:
            if not len(pdf):
                continue
            x = matrix_from_pandas_payload(p, pdf)
            q = score_q_payload(p, x)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "score_q": q,
                    "score": p["scale"] * (q / LEAF_SCALE) + p["bias"],
                }
            )

    return df.mapInPandas(run, schema=CBM_SCORE_SCHEMA)


def rnn_scorer_model(path: str = REFERENCE_RNN_CKPT) -> BroadcastModel:
    """U1/U2: TransactionsRnn weights (model.py:231 ``nn_weights.ckpt``)
    as a broadcastable plain dict of numpy arrays."""
    from .torch_ckpt import load_state_dict

    return BroadcastModel(kind="numpy_rnn", payload=load_state_dict(path))


def vrae_encoder_model(path: str = REFERENCE_VRAE_CKPT) -> BroadcastModel:
    """U4: VRAE encoder weights (run.py:176 ``vrae_5896.pth``)."""
    from .torch_ckpt import load_state_dict

    return BroadcastModel(kind="numpy_vrae", payload=load_state_dict(path))


def score_rnn_sequences(
    df: DataFrame,
    model: BroadcastModel,
    id_col: str = "user_id",
    seq_col: str = "seq",
    round_digits: int | None = 6,
) -> DataFrame:
    """U1/U2: per-user code sequences -> P(default) with the real BiGRU.

    ``seq_col`` is the time-major (T, n_features) array<array<double>>
    from ``plans.rnn_input_sequences`` (fixed T after padding); the UDF
    transposes to the reference's (n_features, T) code layout
    (model.py:188 ``x.values.transpose()``).  Weights ride one broadcast;
    rows are scored independently, so the result is partitioning-invariant
    once rounded (``round_digits`` absorbs the float32-ulp batch-shape
    sensitivity of BLAS — see nn_numpy module docstring).
    """
    # imported HERE (driver side) so the class ships by value inside the
    # closure — an import statement inside ``run`` would execute on the
    # executor worker, which only resolves the package when the session's
    # cwd/PYTHONPATH happens to expose it (encode_with_vrae always used
    # this pattern; exposed by the round-7 vanilla-session front-50 sim).
    from .nn_numpy import TransactionsRnnScorer

    sc = df.sparkSession.sparkContext
    b = sc.broadcast({"sd": model.payload})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = TransactionsRnnScorer(b.value["sd"])
        for pdf in batches:
            if not len(pdf):
                continue
            out = np.empty(len(pdf), dtype=np.float64)
            seqs = [
                np.asarray([np.asarray(step, dtype=np.float64) for step in s]).T
                for s in pdf[seq_col]
            ]
            by_shape: dict[tuple, list[int]] = {}
            for i, s in enumerate(seqs):
                by_shape.setdefault(s.shape, []).append(i)
            for shape, idxs in by_shape.items():
                codes = np.stack([seqs[i] for i in idxs]).astype(np.int64)
                out[idxs] = scorer.score(codes)
            if round_digits is not None:
                out = np.round(out, round_digits)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"), "score": out})

    return df.select(id_col, seq_col).mapInPandas(run, schema=SCORE_SCHEMA)


def encode_with_vrae(
    df: DataFrame,
    model: BroadcastModel,
    id_col: str = "user_id",
    seq_col: str = "seq",
    round_digits: int | None = 5,
) -> DataFrame:
    """U4: per-user feature sequences -> 40-dim latent means with the real
    VRAE LSTM encoder.

    ``seq_col`` is time-major (T, n_features) from
    ``plans.vrae_input_sequences``; variable-length sequences are grouped
    by length inside each Arrow batch so each group encodes as one
    vectorized (B, T, F) forward.  (The reference instead fixes T by
    drop_last batching — vrae.py:433-436; natural-length encoding is the
    semantically-faithful generalization.)

    Feature vectors narrower than the encoder's input width are
    right-padded with zeros — the reference does the same conform by
    ``reindex(columns=cols).fillna(0)`` against its closed 394-column
    one-hot layout (run.py:104-108): absent columns are zeros.
    """
    from .nn_numpy import VraeEncoder

    sc = df.sparkSession.sparkContext
    b = sc.broadcast({"sd": model.payload})
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("latent", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = VraeEncoder(b.value["sd"])
        for pdf in batches:
            if not len(pdf):
                continue
            seqs = [
                np.asarray(
                    [np.asarray(step, dtype=np.float32) for step in s], dtype=np.float32
                )
                for s in pdf[seq_col]
            ]
            for i, s in enumerate(seqs):
                if s.shape[1] < enc.n_features:
                    seqs[i] = np.pad(s, ((0, 0), (0, enc.n_features - s.shape[1])))
            lat = np.empty((len(seqs), enc.latent_length), dtype=np.float64)
            by_len: dict[int, list[int]] = {}
            for i, s in enumerate(seqs):
                by_len.setdefault(s.shape[0], []).append(i)
            for _, idxs in by_len.items():
                batch = np.stack([seqs[i] for i in idxs])
                lat[idxs] = enc.encode(batch).astype(np.float64)
            if round_digits is not None:
                lat = np.round(lat, round_digits)
            yield pd.DataFrame(
                {"user_id": pdf[id_col].astype("int64"), "latent": list(lat)}
            )

    return df.select(id_col, seq_col).mapInPandas(run, schema=schema)
