"""Per-row / per-batch neural kernels over ``array<float>`` feature
columns (SURVEY §2.7 N15-N19).

In the reference these are small torch modules applied to the
[rows, cols, dim] column-embedding tensor
(``nn/layers/attenttion.py``, ``encoding.py``, ``residual_norm.py``,
``per_feature_norm.py``). Torch is not in this container; each kernel
here is the same math as a numpy Arrow-batched pandas UDF over a
column-major feature layout:

    one row = one entity; ``cols`` = array of per-column embedding
    vectors, i.e. ``array<array<float>>`` of shape [n_cols, dim].

Per-ROW kernels (N15, N17, N18, N19) are embarrassingly parallel — no
shuffle, the UDF runs inside the scan stage at any scale. The
cross-ROW kernel (N16 intersample attention) attends across the rows
*of one Arrow batch* — exactly SAINT's batch semantics; batch
composition is the partitioning, which a trainer controls by
repartitioning/sorting upstream.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pandas_udf(fn, returns: str, struct_input: bool = False):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # struct columns are delivered as a pandas DataFrame; the eval type
    # is inferred from these (real, non-stringized) annotations
    fn.__annotations__ = {
        "v": pd.DataFrame if struct_input else pd.Series,
        "return": pd.Series,
    }
    return pandas_udf(fn, returns)


def _stack(series):
    import numpy as np

    return np.array([np.asarray(x, dtype=np.float64) for x in series])


def positional_encoding(col: Column, dim: int | None = None) -> Column:
    """N17 (``nn/layers/encoding.py:7-24``): add the sin/cos positional
    code over the column axis of a [n_cols, dim] embedding array.
    Dropout is a training-time concern and lives with the trainer."""

    def fn(v):
        import numpy as np
        import pandas as pd

        out = []
        for x in v:
            m = _stack([x])[0] if isinstance(x[0], (list, tuple)) else _stack(x)
            n_cols, d = m.shape
            pos = np.arange(n_cols)[:, None]
            i = np.arange(d)[None, :]
            angle = pos / np.power(10000.0, (2 * (i // 2)) / d)
            pe = np.where(i % 2 == 0, np.sin(angle), np.cos(angle))
            out.append((m + pe).tolist())
        return pd.Series(out)

    return _pandas_udf(fn, "array<array<double>>")(col)


def residual_norm(col_x: Column, col_x_next: Column) -> Column:
    """N18 ``ResidualNorm`` (``nn/layers/residual_norm.py:4-11``):
    ``LayerNorm(x + x_next)`` over the last axis, per column vector."""

    def fn(v):
        # a struct column arrives as a pandas DataFrame (one column per
        # struct field), not a Series of dicts
        import pandas as pd

        out = []
        for xs, ys in zip(v["x"], v["y"]):
            z = _stack(xs) + _stack(ys)
            mu = z.mean(axis=-1, keepdims=True)
            sd = z.std(axis=-1, keepdims=True)
            out.append(((z - mu) / (sd + 1e-5)).tolist())
        return pd.Series(out)

    return _pandas_udf(fn, "array<array<double>>", struct_input=True)(
        F.struct(col_x.alias("x"), col_x_next.alias("y"))
    )


def per_feature_norm(col: Column) -> Column:
    """N19 ``PerFeatureNorm`` (``nn/layers/per_feature_norm.py:4-15``):
    LayerNorm across the COLUMN axis (normalize each embedding dim over
    the row's columns — the transposed-axis norm)."""

    def fn(v):
        import pandas as pd

        out = []
        for x in v:
            m = _stack(x)
            mu = m.mean(axis=0, keepdims=True)
            sd = m.std(axis=0, keepdims=True)
            out.append(((m - mu) / (sd + 1e-5)).tolist())
        return pd.Series(out)

    return _pandas_udf(fn, "array<array<double>>")(col)


def self_attention(col: Column) -> Column:
    """N15 ``SelfAttention`` (``nn/layers/attenttion.py:4-15``) with
    identity Q/K/V projections: softmax(x xᵀ/√d)·x over a row's column
    vectors. Learned projections belong to the trainer; the relational
    engine supplies the kernel shape."""

    def fn(v):
        import numpy as np
        import pandas as pd

        out = []
        for x in v:
            m = _stack(x)
            d = m.shape[1]
            scores = m @ m.T / math.sqrt(d)
            scores -= scores.max(axis=1, keepdims=True)
            w = np.exp(scores)
            w /= w.sum(axis=1, keepdims=True)
            out.append((w @ m).tolist())
        return pd.Series(out)

    return _pandas_udf(fn, "array<array<double>>")(col)


def intersample_attention(
    df: DataFrame, features: str, out: str = "intersample", id_col: str = "node_id"
) -> DataFrame:
    """N16 ``IntersampleAttention`` (``nn/layers/attenttion.py:17-36``,
    SAINT): attention ACROSS the rows of a batch, each row's flattened
    feature vector attending to every other row in its Arrow batch /
    partition group. Implemented with ``mapInPandas`` so the batch is
    the attention scope — repartition upstream to choose batch makeup.
    """

    def fn(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.array([np.asarray(x, dtype=np.float64) for x in pdf[features]])
            d = m.shape[1]
            scores = m @ m.T / math.sqrt(d)
            scores -= scores.max(axis=1, keepdims=True)
            w = np.exp(scores)
            w /= w.sum(axis=1, keepdims=True)
            res = w @ m
            yield pd.DataFrame({id_col: pdf[id_col], out: list(map(list, res))})

    schema = f"{id_col} bigint, {out} array<double>"
    return df.select(id_col, features).mapInPandas(fn, schema)


# ---------------------------------------------------------------- tabular
# model-zoo kernels (N22 TabNet, N23 Trompt). The reference ships full
# torch training modules (nn/models/tabular/tabnet.py:15-308,
# nn/models/tabular/trompt.py:9-82); the engine's contract is the
# inference dataflow as deterministic Arrow kernels — seeded-hash
# parameters exactly like operators/embedder.py, training stays with
# the trainer hand-off. Both are per-ROW kernels: no shuffle, they run
# inside the scan stage at any scale.


def _seeded_matrix(rng_key: int, rows: int, cols: int, scale: float):
    """Deterministic dense parameter block: a counter-based generator
    seeded by (rng_key, rows, cols) — same values on every executor
    without shipping state. Seed derives from md5, NOT Python ``hash``
    (which is salted per process and would give every worker different
    parameters)."""
    import hashlib

    import numpy as np

    digest = hashlib.md5(repr((rng_key, rows, cols)).encode()).hexdigest()
    rng = np.random.default_rng(int(digest[:15], 16))
    return rng.uniform(-scale, scale, size=(rows, cols))


def sparsemax(z):
    """Sparse softmax (Martins & Astudillo 2016): Euclidean projection
    of each row onto the probability simplex — the mask nonlinearity of
    TabNet's AttentiveTransformer. Rows sum to 1 with exact zeros."""
    import numpy as np

    z = np.asarray(z, dtype=np.float64)
    srt = np.sort(z, axis=-1)[..., ::-1]
    cum = np.cumsum(srt, axis=-1) - 1.0
    ks = np.arange(1, z.shape[-1] + 1)
    support = srt - cum / ks > 0
    k = support.sum(axis=-1, keepdims=True)
    tau = np.take_along_axis(cum, k - 1, axis=-1) / k
    return np.maximum(z - tau, 0.0)


def tabnet_forward(
    xs,
    out_channels: int,
    num_layers: int = 3,
    feat_channels: int = 8,
    attn_channels: int = 8,
    gamma: float = 1.2,
    seed: int = 42,
):
    """The TabNet encoder forward over a [batch, in_ch] float matrix —
    the SHARED kernel (the ``row_logits`` precedent: engine UDF and
    oracle twin run this identical function; independence lives in the
    data path). Every linear map is the fixed-order rank-1
    accumulation ``plans.training.row_logits``, so results are
    independent of the Arrow batch split — the encoding feeds a
    bit-pinned trajectory (the frozen-encoder head trainer,
    ``plans/tabnet_head.train_tabnet_head``, and its twin)."""
    import numpy as np

    from ..plans.training import row_logits as lin

    def glu_block(x, w, b):
        h = lin(x, w, b)
        half = h.shape[-1] // 2
        return h[..., :half] * (1.0 / (1.0 + np.exp(-h[..., half:])))

    in_ch = xs.shape[1]
    split = feat_channels + attn_channels
    scale = 1.0 / math.sqrt(max(in_ch, 1))
    w_feat = [
        _seeded_matrix((seed, "feat", i), in_ch, 2 * split, scale)
        for i in range(num_layers + 1)
    ]
    b_feat = [
        _seeded_matrix((seed, "featb", i), 1, 2 * split, scale)[0]
        for i in range(num_layers + 1)
    ]
    w_attn = [
        _seeded_matrix((seed, "attn", i), attn_channels, in_ch, scale)
        for i in range(num_layers)
    ]
    w_out = _seeded_matrix((seed, "out"), feat_channels, out_channels, scale)
    zeros_attn = np.zeros(in_ch)
    zeros_out = np.zeros(out_channels)

    prior = np.ones_like(xs)
    attention_x = glu_block(xs, w_feat[0], b_feat[0])[..., feat_channels:]
    acc = np.zeros((xs.shape[0], feat_channels))
    for i in range(num_layers):
        mask = sparsemax(lin(attention_x, w_attn[i], zeros_attn) * prior)
        h = glu_block(mask * xs, w_feat[i + 1], b_feat[i + 1])
        acc += np.maximum(h[..., :feat_channels], 0.0)
        attention_x = h[..., feat_channels:]
        prior = (gamma - mask) * prior
    return lin(acc, w_out, zeros_out)


def tabnet_encode(
    col: Column,
    out_channels: int,
    num_layers: int = 3,
    feat_channels: int = 8,
    attn_channels: int = 8,
    gamma: float = 1.2,
    seed: int = 42,
) -> Column:
    """N22 TabNet encoder dataflow (``nn/models/tabular/tabnet.py:76-110``)
    over a flat ``array<float>`` feature row: per step, an attentive
    transformer produces a **sparsemax feature mask** scaled by the
    running prior, the masked input passes a GLU feature transformer,
    ReLU'd splits accumulate, and the prior decays by (γ − mask).
    BatchNorm/GhostBN are training-time statistics and live with the
    trainer. Batch-split independent: see :func:`tabnet_forward`."""

    def fn(v):
        import pandas as pd

        res = tabnet_forward(
            _stack(v), out_channels, num_layers, feat_channels, attn_channels,
            gamma, seed,
        )
        return pd.Series([r.tolist() for r in res])

    return _pandas_udf(fn, "array<double>")(col)


def trompt_encode(
    col: Column,
    num_prompts: int = 4,
    num_layers: int = 2,
    seed: int = 42,
) -> Column:
    """N23 Trompt encoder dataflow (``nn/models/tabular/trompt.py:9-55``)
    over a row's ``array<array<float>>`` column embeddings: per layer, a
    prompt bank attends over the row's columns (softmax importance) and
    is rebuilt as the importance-weighted column mix plus residual;
    the stacked per-layer prompts (flattened) are the encoding — the
    decoder's per-layer mean is the reference's
    ``TromptDecoder.forward`` (``trompt.py:66-82``)."""

    def fn(v):
        import pandas as pd

        out = []
        for x in v:
            out.append(trompt_forward(_stack(x), num_prompts, num_layers, seed).tolist())
        return pd.Series(out)

    return _pandas_udf(fn, "array<array<double>>")(col)


def trompt_forward(m, num_prompts: int = 4, num_layers: int = 2, seed: int = 42):
    """One row's Trompt encoder forward over its [n_cols, ch] column
    embeddings → the stacked per-layer prompts [num_layers·num_prompts,
    ch]. The SHARED per-row kernel (the ``row_logits`` precedent) —
    every matmul has row-count-independent shapes, so the result never
    depends on the Arrow batch split."""
    import numpy as np

    ch = m.shape[1]
    prompt = _seeded_matrix((seed, "prompt"), num_prompts, ch, 0.01)
    outs = []
    for i in range(num_layers):
        w = _seeded_matrix((seed, "conv", i), ch, ch, 1.0 / math.sqrt(ch))
        scores = (prompt @ w) @ m.T / math.sqrt(ch)
        scores -= scores.max(axis=1, keepdims=True)
        imp = np.exp(scores)
        imp /= imp.sum(axis=1, keepdims=True)
        prompt = prompt + imp @ m
        outs.append(prompt.copy())
    return np.concatenate(outs, axis=0)
