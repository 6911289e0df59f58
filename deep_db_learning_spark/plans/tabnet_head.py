"""TabNet / Trompt decision-head training over frozen seeded
encoders (VERDICT r5 #5).

The reference trains the FULL TabNet (``nn/models/tabular/tabnet.py:
15-308``); ``plans/tabnet_full`` does that in-engine. Here the
encoder dataflow (``operators/kernels.tabnet_encode`` — attentive
sparsemax masks, GLU feature transformers, prior decay) runs FROZEN at
its seeded initialization (every GEMM a fixed-order rank-1
accumulation, so the encoding is Arrow-batch-independent), and the
DECISION HEAD — the linear map from aggregated decision features to
class logits, the reference's final ``Linear`` — trains in-engine under
the repo's bit-determinism contract: per-row gradients dec9-quantized
in an Arrow kernel (``training.dec9_udf``), folded with exact decimal
sums (``training.fold_dec9`` — associative ⇒ partitioning-independent),
SGD on the driver. The head is the engine's one decision head: the
per-row loss and residual are ``training.head_loss``, the prediction
column is ``training.head_pred_udf``, and the Trompt encoder column is
a ``training.kernel_udf``. The loss trajectory is replayed bit-for-bit
by the independent twin (``plans/train_oracle._tabnet_head_losses``).

Wiring: each head trainer assembles the root frame with
``training.assemble_training_frame`` and fits on ``(frame, meta)``;
no head reads the stack's per-layer child frames, so none are built.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from .training import (
    TrainResult,
    assemble_training_frame,
    dec9_udf,
    fold_dec9,
    head_loss,
    head_pred_udf,
    kernel_udf,
    row_logits,
    split_metric,
)

# shared CONFIG with the oracle twin and the driver query (the
# *_BENCH_CONFIG convention): hyperparameters can never diverge
TABNET_HEAD_BENCH_CONFIG = {
    "epochs": 4,
    "lr": 0.5,
    "l2": 1e-4,
    "out_channels": 8,
    "num_layers": 2,
    "feat_channels": 8,
    "attn_channels": 8,
    "neighbor_budget": 5,
}


def tabnet_feature_expr(card: int):
    """The flat tabular input row the encoder consumes: one-hot of the
    F12 code (NULL-code 0 included) ++ the standardized numerics —
    identical construction in the twin."""
    onehot = F.array(
        *[(F.col("code") == i).cast("double") for i in range(card)]
    )
    return F.concat(onehot, F.col("nums"))


def _fit_linear_head(
    frame, enc, d: int, k: int, epochs, lr, l2, seed, task: str = "classification"
) -> TrainResult:
    """Shared decision-head GD over a frozen encoder column ``enc``
    (an ``array<double>`` of width ``d``): encode ONCE into a
    materialized frame, then per epoch one :func:`~.training.fold_dec9`
    job folds the dec9-quantized per-row gradients as exact decimals;
    SGD on the driver. ``task="classification"`` (softmax CE, integer
    labels) or ``"regression"`` (k=1 linear head, half-squared error on
    the train-standardized double label — the stack trainer's
    regression conventions); the per-split metric is
    :func:`~.training.split_metric`. Used by both the TabNet and Trompt
    heads — and replayed by their twins."""
    full = cut_lineage(
        frame.select("split", "label", enc.alias("x")), eager=True
    )
    tr = full.filter(F.col("split") == "train").select("x", "label")
    rng = np.random.default_rng(seed)
    W = rng.uniform(-0.5, 0.5, size=(d, k)) * 0.1
    b = np.zeros(k)
    glen = 1 + d * k + k

    losses: list[float] = []
    for _ in range(epochs):
        Wc, bc = W.copy(), b.copy()

        def grad_kernel(x, label):
            X = np.vstack(x.to_list())
            loss, resid = head_loss(row_logits(X, Wc, bc), label, task)
            return np.concatenate(
                [
                    loss[:, None],
                    (X[:, :, None] * resid[:, None, :]).reshape(len(X), -1),
                    resid,
                ],
                axis=1,
            )

        tot, _, n = fold_dec9(
            tr.select(dec9_udf(grad_kernel, "x", "label").alias("g")), glen
        )
        GW = tot[1 : 1 + d * k].reshape(d, k)
        gb = tot[1 + d * k :]
        losses.append(float(tot[0]) / n + 0.5 * l2 * float((W * W).sum()))
        W -= lr * (GW / n + l2 * W)
        b -= lr * (gb / n)

    pred = head_pred_udf(
        lambda x: row_logits(np.vstack(x.to_list()), W, b), task, "x"
    )
    preds = full.select("split", "label", pred.alias("pred"))
    return TrainResult(
        losses=losses, accuracy=split_metric(preds, task), params={"W": W, "b": b}
    )


def train_tabnet_head(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    out_channels: int = 8,
    num_layers: int = 2,
    feat_channels: int = 8,
    attn_channels: int = 8,
    task: str = "classification",
) -> TrainResult:
    """Full-batch GD on the TabNet decision head over frozen seeded
    encoder features — see the module docstring for the contract.
    ``task="regression"`` swaps in the k=1 linear / half-squared-error
    head on the train-standardized double label."""
    from ..operators.kernels import tabnet_encode

    frame, meta = assemble_training_frame(
        tables, primary_keys, foreign_keys, target, cat_col, num_cols,
        seed=seed, neighbor_budget=neighbor_budget, task=task,
    )
    enc = tabnet_encode(
        tabnet_feature_expr(meta["n_codes"]), out_channels, num_layers,
        feat_channels, attn_channels, seed=seed,
    )
    return _fit_linear_head(
        frame, enc, out_channels, meta["n_classes"], epochs, lr, l2, seed,
        task=task,
    )


# ------------------------------------------------------- Trompt head
#
# Same split for N23 (reference ``nn/models/tabular/trompt.py:9-82``):
# the prompt-bank encoder runs frozen at its seeded init — per row,
# column embeddings (the N1/N2 seeded shapes: cat lookup + per-numeric
# x·w+b) feed the shared ``trompt_forward`` kernel, and the stacked
# prompts MEAN-POOL into one feature vector (the reference's
# TromptDecoder applies one shared linear per layer and averages the
# per-layer predictions — with a shared linear that composes to a
# linear over the mean feature, which is exactly what trains here) —
# while the decision head trains in-engine via the same decimal-fold
# GD as the TabNet head. Twin: ``_trompt_head_losses``.

TROMPT_HEAD_BENCH_CONFIG = {
    "epochs": 4,
    "lr": 0.5,
    "l2": 1e-4,
    "ch": 8,
    "num_prompts": 4,
    "num_layers": 2,
    "neighbor_budget": 5,
}


def trompt_column_embedder(card: int, m_num: int, ch: int, seed: int):
    """The frozen N1/N2 column embeddings of a Trompt row, drawn ONCE:
    the seeded ``card × ch`` categorical table and the per-numeric
    ``x·w+b`` weights. Returns ``embed(code, nums)`` → the row's
    ``[1 + m_num, ch]`` column-embedding matrix — the one construction
    behind the frozen-encoder head (:func:`trompt_root_encoding_rows`),
    the full Trompt trainer (``tabnet_full.train_trompt_full``) and
    their twins."""
    from ..operators.kernels import _seeded_matrix

    E = _seeded_matrix((seed, "cat"), card, ch, 0.5)
    Wn = [_seeded_matrix((seed, "num", j), 1, ch, 0.5)[0] for j in range(m_num)]
    Bn = [_seeded_matrix((seed, "numb", j), 1, ch, 0.5)[0] for j in range(m_num)]

    def embed(code, nums):
        return np.vstack(
            [E[int(code)]] + [float(x) * Wn[j] + Bn[j] for j, x in enumerate(nums)]
        )

    return embed


def trompt_root_encoding_rows(
    codes, nums, card: int, ch: int, num_prompts: int, num_layers: int, seed: int
):
    """[batch] codes + [batch, m] nums → [batch, ch] mean-pooled
    Trompt encodings — the SHARED kernel (engine UDF and twin run this
    identical function). Every per-row op has batch-independent
    shapes, so the encoding never depends on the Arrow split."""
    from ..operators.kernels import trompt_forward

    embed = trompt_column_embedder(card, nums.shape[1], ch, seed)
    out = np.empty((len(codes), ch))
    for i in range(len(codes)):
        st = trompt_forward(embed(codes[i], nums[i]), num_prompts, num_layers, seed)
        out[i] = st.mean(axis=0)
    return out


def train_trompt_head(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
    task: str = "classification",
) -> TrainResult:
    """Decision-head GD over frozen seeded Trompt encodings — see the
    section comment.
    ``task="regression"``: the k=1 half-squared-error head."""
    import pandas as pd

    frame, meta = assemble_training_frame(
        tables, primary_keys, foreign_keys, target, cat_col, num_cols,
        seed=seed, neighbor_budget=neighbor_budget, task=task,
    )
    card = meta["n_codes"]

    def enc_kernel(code, nums):
        codes = code.to_numpy(dtype=np.int64)
        M = np.vstack(nums.to_list()).astype(np.float64)
        out = trompt_root_encoding_rows(
            codes, M, card, ch, num_prompts, num_layers, seed
        )
        return pd.Series([row.tolist() for row in out])

    return _fit_linear_head(
        frame, kernel_udf(enc_kernel, "array<double>", "code", "nums"), ch, meta["n_classes"], epochs, lr, l2,
        seed, task=task,
    )
