"""FULL in-engine TabNet / Trompt encoder training (closing the N22/
N23 daylight): every parameter of the encoder — all GLU feature
transformers, all attentive transformers, the prior-decay chain, the
output projection — plus the decision head trains jointly, under the
repo's bit-determinism contract.

The head trainers in ``tabnet_head`` keep the encoder frozen and
train only the decision head. Sparsemax's sort does not force that
boundary: the sort lives ONLY in the forward (finding the simplex
threshold τ). Given the forward's output
``p = sparsemax(s)``, the backward is elementwise arithmetic on the
support set S = {j : p_j > 0}:

    ds = (dp − mean_{j∈S} dp_j) · 1[S]

(the Jacobian of a Euclidean projection onto the simplex,
Martins & Astudillo 2016, eq. 14 — reference trains this with torch
autograd at ``nn/models/tabular/tabnet.py:15-308``). The remaining
recurrences backprop with standard reverse accumulation:

- the decision accumulator is a plain sum, so every layer's
  ``relu(val)`` receives the same ``d_acc``;
- the prior chain ``prior_{i+1} = (γ − mask_i)·prior_i`` carries one
  ``d_prior`` backward, entered both through the decay and through the
  mask's pre-activation scaling ``s·prior``;
- Trompt's stacked residual prompts ``p_{i+1} = p_i + softmax(...)·m``
  carry one ``d_prompt`` backward through the residual and the
  attention.

Determinism: every batch-dim linear map (forward AND backward) is the
fixed-order ``row_logits`` rank-1 accumulation, every other op is
elementwise or a fixed-width per-row reduction — so per-row results
never depend on the Arrow batch split. Per-row gradient vectors are
dec9-quantized and folded as exact decimals (associative ⇒
partitioning-independent); SGD runs on the driver; the independent
twins (``train_oracle._tabnet_full_losses`` / ``_trompt_full_losses``)
replay every epoch's loss bit-for-bit from DuckDB-read parquet.

The decision head is the one every in-engine trainer runs:
``training.head_loss`` gives each row's loss and residual and
``training.head_pred_udf`` the prediction column. So is the gradient
fold: ``training.dec9_udf`` emits each row's dec9 vector and
``training.fold_dec9`` sums it with ``posexplode_outer → groupBy(pos)
→ sum``. The full parameter vector here is ~4k components: four thousand
aggregate expressions in one projection is a plan-compilation hazard,
while one narrow shuffle of (pos, decimal) pairs is the same exact
arithmetic at any parameter count (and is how a 100×-wider model would
fold too).

Seeding: every encoder parameter initializes at the IDENTICAL
``_seeded_matrix`` draw the frozen kernels use, and the head at the
same ``default_rng(seed)`` draw as ``_fit_linear_head`` — so iteration
0 of the full trainer reproduces the frozen-encoder head bit-for-bit
(pytest pins the first-epoch data loss against
``train_tabnet_head``'s).
"""

from __future__ import annotations

import math

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
    row_logits,
    split_metric,
)

TABNET_FULL_BENCH_CONFIG = {
    "epochs": 3,
    "lr": 0.1,
    "l2": 1e-4,
    "out_channels": 8,
    "num_layers": 2,
    "feat_channels": 8,
    "attn_channels": 8,
    "neighbor_budget": 5,
}

TROMPT_FULL_BENCH_CONFIG = {
    "epochs": 3,
    "lr": 0.2,
    "l2": 1e-4,
    "ch": 8,
    "num_prompts": 4,
    "num_layers": 2,
    "neighbor_budget": 5,
}


# --------------------------------------------------------------- TabNet

def tabnet_param_specs(in_ch: int, num_layers: int, fc: int, ac: int,
                       out_channels: int, k: int):
    """Fixed flat layout of the trainable parameter vector:
    ``(name, shape, is_bias)`` in gradient-packing order. Shared by the
    engine fold, the SGD update, and the twin."""
    split = fc + ac
    specs = []
    for i in range(num_layers + 1):
        specs.append((f"w_feat{i}", (in_ch, 2 * split), False))
        specs.append((f"b_feat{i}", (2 * split,), True))
    for i in range(num_layers):
        specs.append((f"w_attn{i}", (ac, in_ch), False))
    specs.append(("w_out", (fc, out_channels), False))
    specs.append(("Wh", (out_channels, k), False))
    specs.append(("bh", (k,), True))
    return specs


def tabnet_seed_params(in_ch: int, num_layers: int, fc: int, ac: int,
                       out_channels: int, k: int, seed: int) -> dict:
    """Initial parameters — the IDENTICAL ``_seeded_matrix`` draws
    ``kernels.tabnet_forward`` makes (so iteration 0 == the frozen
    encoder) plus the head's ``default_rng(seed)`` draw (so iteration 0
    == ``_fit_linear_head``'s start)."""
    from ..operators.kernels import _seeded_matrix

    split = fc + ac
    scale = 1.0 / math.sqrt(max(in_ch, 1))
    p: dict = {}
    for i in range(num_layers + 1):
        p[f"w_feat{i}"] = _seeded_matrix((seed, "feat", i), in_ch, 2 * split, scale)
        p[f"b_feat{i}"] = _seeded_matrix((seed, "featb", i), 1, 2 * split, scale)[0]
    for i in range(num_layers):
        p[f"w_attn{i}"] = _seeded_matrix((seed, "attn", i), ac, in_ch, scale)
    p["w_out"] = _seeded_matrix((seed, "out"), fc, out_channels, scale)
    rng = np.random.default_rng(seed)
    p["Wh"] = rng.uniform(-0.5, 0.5, size=(out_channels, k)) * 0.1
    p["bh"] = np.zeros(k)
    return p


def tabnet_full_forward(X, p: dict, num_layers: int, fc: int, ac: int,
                        gamma: float = 1.2) -> dict:
    """Forward over a [batch, in_ch] float matrix with EXPLICIT
    parameters — op-for-op the same float64 expressions as
    ``kernels.tabnet_forward`` (fixed-order ``row_logits``
    GEMMs, the same GLU/sigmoid/relu/prior order), so at the seeded
    init the two produce identical bits. Returns the caches the
    backward consumes. SHARED by the engine UDF and the twin (the
    ``row_logits`` precedent; independence lives in the data path)."""
    split = fc + ac
    in_ch = X.shape[1]
    zer_in = np.zeros(in_ch)
    h0 = row_logits(X, p["w_feat0"], p["b_feat0"])
    s0 = 1.0 / (1.0 + np.exp(-h0[..., split:]))
    g0 = h0[..., :split] * s0
    att = g0[..., fc:]
    prior = np.ones_like(X)
    acc = np.zeros((X.shape[0], fc))
    layers = []
    from ..operators.kernels import sparsemax

    for i in range(num_layers):
        s_lin = row_logits(att, p[f"w_attn{i}"], zer_in)
        sp = s_lin * prior
        mask = sparsemax(sp)
        z = mask * X
        h = row_logits(z, p[f"w_feat{i + 1}"], p[f"b_feat{i + 1}"])
        sg = 1.0 / (1.0 + np.exp(-h[..., split:]))
        g = h[..., :split] * sg
        layers.append({
            "att_in": att, "s_lin": s_lin, "prior": prior,
            "mask": mask, "z": z, "h": h, "sg": sg, "g": g,
        })
        acc = acc + np.maximum(g[..., :fc], 0.0)
        att = g[..., fc:]
        prior = (gamma - mask) * prior
    enc = row_logits(acc, p["w_out"], np.zeros(p["w_out"].shape[1]))
    logits = row_logits(enc, p["Wh"], p["bh"])
    return {"h0": h0, "s0": s0, "layers": layers, "acc": acc,
            "enc": enc, "logits": logits}


def tabnet_full_row_grads(X, y, p: dict, num_layers: int, fc: int, ac: int,
                          k: int, gamma: float = 1.2,
                          task: str = "classification"):
    """[batch] per-row ``[loss] ++ flat gradients`` (pre-quantization)
    for EVERY parameter in :func:`tabnet_param_specs` order — the
    engine's one decision head (``training.head_loss``: softmax CE, or
    the k=1 half-squared-error regression head on the
    train-standardized label) at the top, then reverse accumulation
    through the output projection, the accumulator sum, each GLU
    block, each sparsemax (support-set projection backward), and the
    prior recurrence. All batch-dim maps
    are fixed-order ``row_logits``; everything else is elementwise or
    a fixed-width per-row reduction, so each row's gradient is
    independent of the Arrow batch it rides in. SHARED by the engine
    UDF and the twin."""
    B = X.shape[0]
    split = fc + ac
    in_ch = X.shape[1]
    zer_in = np.zeros(in_ch)
    fw = tabnet_full_forward(X, p, num_layers, fc, ac, gamma)
    loss, resid = head_loss(fw["logits"], y, task)

    grads: dict = {}
    grads["Wh"] = fw["enc"][:, :, None] * resid[:, None, :]
    grads["bh"] = resid
    d_enc = row_logits(resid, p["Wh"].T, np.zeros(p["Wh"].shape[0]))
    grads["w_out"] = fw["acc"][:, :, None] * d_enc[:, None, :]
    # the accumulator is a plain sum: every layer's relu(val) sees d_acc
    d_acc = row_logits(d_enc, p["w_out"].T, np.zeros(fc))

    d_att = np.zeros((B, ac))       # grad wrt attention output of layer i
    d_prior = np.zeros_like(X)      # grad wrt prior_{i+1}
    for i in reversed(range(num_layers)):
        ly = fw["layers"][i]
        val = ly["g"][..., :fc]
        d_g = np.concatenate([d_acc * (val > 0), d_att], axis=1)
        a = ly["h"][..., :split]
        sg = ly["sg"]
        d_a = d_g * sg
        d_b = d_g * a * sg * (1.0 - sg)
        d_h = np.concatenate([d_a, d_b], axis=1)
        grads[f"w_feat{i + 1}"] = ly["z"][:, :, None] * d_h[:, None, :]
        grads[f"b_feat{i + 1}"] = d_h
        d_z = row_logits(d_h, p[f"w_feat{i + 1}"].T, zer_in)
        # mask enters twice: z = mask·X and prior_{i+1} = (γ−mask)·prior
        d_mask = d_z * X - ly["prior"] * d_prior
        new_d_prior = (gamma - ly["mask"]) * d_prior
        # sparsemax backward: projection onto the support set
        supp = ly["mask"] > 0
        cnt = supp.sum(axis=1, keepdims=True)
        inner = np.where(supp, d_mask, 0.0).sum(axis=1, keepdims=True) / cnt
        d_sp = np.where(supp, d_mask - inner, 0.0)
        # sp = s_lin · prior: both factors carry gradient
        d_slin = d_sp * ly["prior"]
        new_d_prior = new_d_prior + d_sp * ly["s_lin"]
        grads[f"w_attn{i}"] = ly["att_in"][:, :, None] * d_slin[:, None, :]
        d_att = row_logits(d_slin, p[f"w_attn{i}"].T, np.zeros(ac))
        d_prior = new_d_prior
    # prior_0 ≡ 1 (constant): d_prior is dropped. Input transformer:
    # only the attention half of g0 is consumed downstream.
    d_g0 = np.concatenate([np.zeros((B, fc)), d_att], axis=1)
    a0 = fw["h0"][..., :split]
    s0 = fw["s0"]
    d_a0 = d_g0 * s0
    d_b0 = d_g0 * a0 * s0 * (1.0 - s0)
    d_h0 = np.concatenate([d_a0, d_b0], axis=1)
    grads["w_feat0"] = X[:, :, None] * d_h0[:, None, :]
    grads["b_feat0"] = d_h0

    specs = tabnet_param_specs(in_ch, num_layers, fc, ac,
                               p["w_out"].shape[1], k)
    flat = [loss[:, None]] + [grads[name].reshape(B, -1) for name, _s, _b in specs]
    return np.concatenate(flat, axis=1)


def l2_term(p: dict, specs) -> float:
    """The loss's ridge term over WEIGHT MATRICES only (biases exempt —
    the head/GLU trainers' convention), accumulated in spec order so
    the engine and the twin produce the identical float."""
    reg = 0.0
    for name, _shape, is_bias in specs:
        if not is_bias:
            reg += float((p[name] * p[name]).sum())
    return reg


def sgd_step(p: dict, specs, flat_grads, n: int, lr: float, l2: float) -> None:
    """In-place SGD from the folded flat gradient vector (spec order):
    matrices get the ridge term, biases don't — identical expressions
    in the engine and the twin."""
    o = 1
    for name, shape, is_bias in specs:
        size = int(np.prod(shape))
        g = np.asarray(flat_grads[o:o + size], dtype=np.float64).reshape(shape)
        o += size
        if is_bias:
            p[name] = p[name] - lr * (g / n)
        else:
            p[name] = p[name] - lr * (g / n + l2 * p[name])


def train_tabnet_full(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 3,
    lr: float = 0.1,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    out_channels: int = 8,
    num_layers: int = 2,
    feat_channels: int = 8,
    attn_channels: int = 8,
    gamma: float = 1.2,
    task: str = "classification",
) -> TrainResult:
    """Joint full-batch GD on EVERY TabNet parameter (all GLU feature
    transformers, all attentive transformers, the output projection,
    the decision head) over the assembled root frame — see the module
    docstring. ``task="regression"`` swaps the k=1
    half-squared-error head on the train-standardized double label
    (accuracy dict carries decimal-fold per-split MSE — the
    ``_fit_linear_head`` conventions). Twin:
    ``train_oracle._tabnet_full_losses``."""
    from .tabnet_head import tabnet_feature_expr

    frame, meta = assemble_training_frame(
        tables, primary_keys, foreign_keys, target, cat_col, num_cols,
        seed=seed, neighbor_budget=neighbor_budget, task=task,
    )
    card = meta["n_codes"]
    k = meta["n_classes"]
    # the flat input row (one-hot code ++ standardized nums) is
    # parameter-FREE — materialize it once; every epoch's gradient
    # kernel re-runs forward+backward over it with the live params
    full = cut_lineage(
        frame.select("split", "label", tabnet_feature_expr(card).alias("x")),
        eager=True,
    )
    tr = full.filter(F.col("split") == "train").select("x", "label")
    in_ch = card + meta["n_num"]
    fc, ac = feat_channels, attn_channels
    specs = tabnet_param_specs(in_ch, num_layers, fc, ac, out_channels, k)
    p = tabnet_seed_params(in_ch, num_layers, fc, ac, out_channels, k, seed)
    glen = 1 + sum(int(np.prod(s)) for _n, s, _b in specs)

    losses: list[float] = []
    for _ in range(epochs):
        pc = {kk: v.copy() for kk, v in p.items()}

        def grad_kernel(x, label):
            return tabnet_full_row_grads(
                np.vstack(x.to_list()), label, pc, num_layers, fc, ac, k,
                gamma, task=task,
            )

        flat, _, n = fold_dec9(
            tr.select(dec9_udf(grad_kernel, "x", "label").alias("g")), glen
        )
        losses.append(flat[0] / n + 0.5 * l2 * l2_term(p, specs))
        sgd_step(p, specs, flat, n, lr, l2)

    pred = head_pred_udf(
        lambda x: tabnet_full_forward(
            np.vstack(x.to_list()), p, num_layers, fc, ac, gamma
        )["logits"],
        task, "x",
    )
    preds = full.select("split", "label", pred.alias("pred"))
    return TrainResult(
        losses=losses, accuracy=split_metric(preds, task), params=p
    )


# --------------------------------------------------------------- Trompt

def trompt_param_specs(ch: int, num_prompts: int, num_layers: int, k: int):
    """Flat layout: prompt bank, per-layer attention weights, head."""
    specs = [("P0", (num_prompts, ch), False)]
    for i in range(num_layers):
        specs.append((f"W{i}", (ch, ch), False))
    specs.append(("Wh", (ch, k), False))
    specs.append(("bh", (k,), True))
    return specs


def trompt_seed_params(ch: int, num_prompts: int, num_layers: int,
                       k: int, seed: int) -> dict:
    """The IDENTICAL seeded draws ``kernels.trompt_forward`` makes plus
    the head's ``default_rng(seed)`` draw — iteration 0 == the frozen
    encoder under ``_fit_linear_head``'s start."""
    from ..operators.kernels import _seeded_matrix

    p: dict = {"P0": _seeded_matrix((seed, "prompt"), num_prompts, ch, 0.01)}
    for i in range(num_layers):
        p[f"W{i}"] = _seeded_matrix((seed, "conv", i), ch, ch,
                                    1.0 / math.sqrt(ch))
    rng = np.random.default_rng(seed)
    p["Wh"] = rng.uniform(-0.5, 0.5, size=(ch, k)) * 0.1
    p["bh"] = np.zeros(k)
    return p


def trompt_full_forward(m, p: dict, num_layers: int, num_prompts: int):
    """One row's forward with explicit parameters — the same float64
    op order as ``kernels.trompt_forward`` + the mean-pool decode of
    ``trompt_root_encoding_rows`` (stack then ``.mean(axis=0)``), so
    the seeded init reproduces the frozen encoding bit-for-bit.
    Returns ``(caches, enc, logits)``; caches hold each layer's input
    prompt bank and attention weights for the backward."""
    ch = m.shape[1]
    prompt = p["P0"]
    caches, outs = [], []
    for i in range(num_layers):
        scores = (prompt @ p[f"W{i}"]) @ m.T / math.sqrt(ch)
        scores = scores - scores.max(axis=1, keepdims=True)
        e = np.exp(scores)
        imp = e / e.sum(axis=1, keepdims=True)
        caches.append((prompt, imp))
        prompt = prompt + imp @ m
        outs.append(prompt.copy())
    st = np.concatenate(outs, axis=0)
    enc = st.mean(axis=0)
    logits = row_logits(enc[None, :], p["Wh"], p["bh"])[0]
    return caches, enc, logits


def trompt_full_row_grads(m, y, p: dict, num_layers: int,
                          num_prompts: int, k: int,
                          task: str = "classification"):
    """One row's ``[loss] ++ flat gradients`` in
    :func:`trompt_param_specs` order — ``training.head_loss`` on the
    row's logits (softmax CE, or the k=1 half-squared-error regression
    head), then reverse accumulation through the mean-pool and the
    stacked residual attention layers down to the prompt bank itself.
    SHARED by the engine UDF and the twin."""
    ch = m.shape[1]
    L, P = num_layers, num_prompts
    caches, enc, logits = trompt_full_forward(m, p, L, P)
    loss, resid = head_loss(logits[None, :], [y], task)
    resid = resid[0]
    dWh = np.outer(enc, resid)
    d_enc = p["Wh"] @ resid
    # every stacked prompt row contributes 1/(L·P) of itself to enc
    d_row = d_enc / (L * P)
    d_p = np.zeros((P, ch))
    dWs = [None] * L
    for i in reversed(range(L)):
        prompt_i, imp = caches[i]
        d_p = d_p + np.tile(d_row, (P, 1))     # outs[i] = prompt_{i+1}
        d_imp = d_p @ m.T
        d_scores = imp * (d_imp - (d_imp * imp).sum(axis=1, keepdims=True))
        d_u = d_scores @ m / math.sqrt(ch)
        dWs[i] = prompt_i.T @ d_u
        d_p = d_p + d_u @ p[f"W{i}"].T         # residual + attention paths
    flat = [loss, d_p.ravel()]
    flat += [dW.ravel() for dW in dWs]
    flat += [dWh.ravel(), resid]
    return np.concatenate(flat)


def train_trompt_full(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 3,
    lr: float = 0.2,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
    task: str = "classification",
) -> TrainResult:
    """Joint full-batch GD on EVERY Trompt parameter (the prompt bank,
    every layer's attention weight, the decision head; the N1/N2 column
    embeddings stay the frozen seeded shapes — they are the embedder's
    contract, not the encoder's), drawn once by
    ``tabnet_head.trompt_column_embedder``. ``task="regression"``: the
    k=1 half-squared-error head.
    Twin: ``train_oracle._trompt_full_losses``."""
    from .tabnet_head import trompt_column_embedder

    frame, meta = assemble_training_frame(
        tables, primary_keys, foreign_keys, target, cat_col, num_cols,
        seed=seed, neighbor_budget=neighbor_budget, task=task,
    )
    k = meta["n_classes"]
    embed = trompt_column_embedder(meta["n_codes"], meta["n_num"], ch, seed)
    full = cut_lineage(
        frame.select("split", "label", "code", "nums"), eager=True
    )
    tr = full.filter(F.col("split") == "train").select("code", "nums", "label")
    specs = trompt_param_specs(ch, num_prompts, num_layers, k)
    p = trompt_seed_params(ch, num_prompts, num_layers, k, seed)
    glen = 1 + sum(int(np.prod(s)) for _n, s, _b in specs)

    losses: list[float] = []
    for _ in range(epochs):
        pc = {kk: v.copy() for kk, v in p.items()}

        def grad_kernel(code, nums, label):
            return np.vstack([
                trompt_full_row_grads(
                    embed(c, xs), y, pc, num_layers, num_prompts, k, task=task
                )
                for c, xs, y in zip(
                    code.to_numpy(dtype=np.int64), nums.to_list(), label.to_numpy()
                )
            ])

        flat, _, n = fold_dec9(
            tr.select(dec9_udf(grad_kernel, "code", "nums", "label").alias("g")),
            glen,
        )
        losses.append(flat[0] / n + 0.5 * l2 * l2_term(p, specs))
        sgd_step(p, specs, flat, n, lr, l2)

    def logits_kernel(code, nums):
        return np.vstack([
            trompt_full_forward(embed(c, xs), p, num_layers, num_prompts)[2]
            for c, xs in zip(code.to_numpy(dtype=np.int64), nums.to_list())
        ])

    pred = head_pred_udf(logits_kernel, task, "code", "nums")
    preds = full.select("split", "label", pred.alias("pred"))
    return TrainResult(
        losses=losses, accuracy=split_metric(preds, task), params=p
    )
