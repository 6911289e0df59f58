"""Spec-driven trained layer stacks — the generalized form of the
two-layer trainer (VERDICT r4 #1/#2/#5).

The reference backprops an arbitrary-depth, arbitrary-schema stack of
per-table embedders + convs (``nn/models/blueprint.py:24-214``, depth
set by ``experiments/blueprint_mlflow.py:53``). Here the stack is
declared as a list of :class:`EdgeLayerSpec` — one per FK edge walking
AWAY from the root — and trained end-to-end with the same
driver/Spark split and bit-determinism contract as the 1-layer
trainers (``plans/training.py``):

    level 0 (root):  logits = [emb0[code] ++ nums ++ hbar_1] @ Wh + bh
    level i (1..L):  h_i = tanh([emb_i[code_i] ++ x_i ++ hbar_{i+1}] @ W_i + b_i)
                     hbar_i = per-parent decimal-fold MEAN of h_i

Every per-row kernel is a fixed-order ``row_logits`` accumulation
(Arrow-batch-size-independent); every cross-row reduction is an exact
decimal fold of dec9-quantized components — so the whole trajectory is
bit-reproducible under any partitioning and recomputed by the
independent twin (``plans/train_oracle.py:_stack_losses``).

The head is the one decision head of ``plans/training.py``:
``two_layer_head_step`` runs ``training.head_loss`` on the driver and
``_score_roots`` predicts through ``training.head_pred_udf``. Every
level kernel builds its rows with ``training.design_rows`` through one
stack-local pair — :func:`_level_hidden` (``H = tanh(X·W + b)``) and
:func:`_level_delta` (``D = G·(1 − H²)``).

Scale posture (each capability has one path; the trajectory is
pinned by the independent twin, not by a second engine path):

- **root sharding**: the train-split root set is never collected
  whole — batch assignment is a Spark-side portable knuth hash and
  each step collects only its own batch's root rows (O(batch) driver
  residency; the reference analog is the batched seed nodes of
  ``HGTLoader``, ``experiments/blueprint_mlflow.py:119-133``).
- **batching**: per-step receptive fields are pruned with broadcast
  semi-joins on a batch-key frame — level 1 against the batch roots,
  level i against the kept level-(i-1) keys — and materialized ONCE
  per batch (the portable-hash batches never change across epochs).
- **gradients down the stack**: dL/dhbar flows as a JOINED frame
  ``(key, gout, deg)`` — level 1's comes from the driver head step
  (bounded by batch size) as an Arrow table built on the driver (a
  ``LocalTableScan``: no job, no Python worker), deeper levels are
  produced by a per-row Spark job; no driver dict ever holds a
  non-root level. Each level's weight and embedding gradients are one
  ``training.fold_dec9`` job, keyed by code, over the rows'
  ``dec9_udf`` vectors — the exact decimal fold every in-engine
  trainer shares.
- **embeddings**: every layer's embedding table is a driver numpy
  array (``card × emb_dim``) that each Arrow kernel indexes by code —
  an in-kernel broadcast join, the one embedding source of every
  level's forward, backward and gradient-frame kernel.
- **eval**: one scoring path (``_score_roots``) joins the trained
  ``hbar`` onto the root frame and predicts in an Arrow UDF — the
  root frame is never collected. The trainer lineage-cuts the scored
  frame once, aggregates its per-split metric from it, and carries it
  on the result; ``predict_relational_stack`` returns that frame for
  unchanged inputs instead of assembling and scoring again.
- intermediate hbar frames are ``cut_lineage``'d per step, so each
  backward job reuses the materialized fold instead of recomputing
  the deeper layers.
"""

from __future__ import annotations

from copy import deepcopy
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from ..functions.exact_agg import DECIMAL_TYPE
from .training import (
    TrainResult,
    assemble_training_frame,
    dec9_udf,
    design_rows,
    fold_dec9,
    head_pred_udf,
    kernel_udf,
    row_logits,
    split_metric,
    two_layer_head_step,
)


@dataclass(frozen=True)
class EdgeLayerSpec:
    """One trained layer over one FK edge (child table → parent).

    ``key`` is a scalar SQL expression for the child row's identity —
    a plain PK column, or a packing expression for composite PKs
    (e.g. ``"l_orderkey * 8 + l_linenumber"`` — linenumber is 1..7).
    Required when ``neighbor_budget`` is set (the deterministic sample
    orders by ``knuth_hash(key)``) or when a deeper layer hangs off
    this one (its rows join by their fk to these key values).

    ``child_agg = (table, fk, col)`` appends an UNtrained decimal-fold
    mean of ``col`` per child row as an extra input feature (the
    original two-layer trainer's ``li_qty_mean``); when the same edge
    is instead a deeper :class:`EdgeLayerSpec`, the feature is trained
    through — don't use both on one edge.
    """

    table: str
    fk: str
    cat_col: str
    num_cols: tuple[str, ...] = ()
    key: str | None = None
    child_agg: tuple[str, str, str] | None = None
    emb_dim: int = 2
    hidden_dim: int = 4
    neighbor_budget: int | None = None

    @property
    def n_feats(self) -> int:
        return len(self.num_cols) + (1 if self.child_agg else 0)


# The original hard-coded customer←orders shape, now just a spec —
# the driver query's two_layer mode runs the stack with this.
ORDERS_LAYER_SPEC = EdgeLayerSpec(
    table="orders",
    fk="o_custkey",
    cat_col="o_orderstatus",
    num_cols=("o_totalprice",),
    key="o_orderkey",
    child_agg=("lineitem", "l_orderkey", "l_quantity"),
    emb_dim=2,
    hidden_dim=4,
)

# Depth-3 bench stack: customer ← orders ← lineitem, all three levels'
# embedders and both hidden weight matrices trained through the folds
# (the reference's layers=2 configuration,
# ``experiments/blueprint_mlflow.py:53``). orders drops its untrained
# lineitem mean — lineitem is now a trained layer on the same edge.
THREE_LAYER_SPECS = (
    replace(ORDERS_LAYER_SPEC, child_agg=None, neighbor_budget=5),
    EdgeLayerSpec(
        table="lineitem",
        fk="l_orderkey",
        cat_col="l_returnflag",
        num_cols=("l_quantity", "l_extendedprice"),
        key="l_orderkey * 8 + l_linenumber",
        emb_dim=2,
        hidden_dim=4,
        neighbor_budget=5,
    ),
)

THREE_LAYER_BENCH_CONFIG = {"epochs": 2, "n_batches": 2, "neighbor_budget": 5}


def _assemble_child_frame(
    tables: dict[str, DataFrame], spec: EdgeLayerSpec, seed: int
) -> tuple[DataFrame, int]:
    """Level-i input frame, built once per training run:
    ``(parent_key, [child_key,] code, x array<double>)`` with x =
    globally standardized ``num_cols`` (+ the optional child_agg mean)
    and code = F12 dict-encoded ``cat_col`` (sorted distinct non-null
    → 1..n, NULL→0, built over the SAMPLED rows so engine and twin see
    one code table). The per-parent ``neighbor_budget`` sample is the
    deterministic knuth-ordered window applied BEFORE standardization
    (the stats describe exactly the rows trained on)."""
    from ..functions.encode import dict_encode
    from ..operators.sampling import sample_neighbors

    df = tables[spec.table].filter(F.col(spec.fk).isNotNull())
    sel = [F.col(spec.fk).cast("bigint").alias("parent_key")]
    has_key = spec.key is not None
    if has_key:
        sel.append(F.expr(spec.key).cast("bigint").alias("child_key"))
    # internal names: a num_col or cat_col named "value"/"code" would
    # collide with dict_encode's code-table columns
    sel += [F.col(c).alias(f"__f{i}") for i, c in enumerate(spec.num_cols)]
    sel.append(F.col(spec.cat_col).alias("__cat"))
    of = df.select(*sel)
    feat_cols = [f"__f{i}" for i in range(len(spec.num_cols))]
    if spec.child_agg is not None:
        if not has_key:
            raise ValueError("child_agg needs spec.key (the referenced column)")
        ct, cfk, cc = spec.child_agg
        agg = tables[ct].groupBy(F.col(cfk).cast("bigint").alias("child_key")).agg(
            (F.sum(F.col(cc).cast(DECIMAL_TYPE)).cast("double") / F.count(cc)).alias(
                "__child_mean"
            )
        )
        of = of.join(agg, "child_key", "left").na.fill(0.0, ["__child_mean"])
        feat_cols.append("__child_mean")
    if spec.neighbor_budget is not None:
        if not has_key:
            raise ValueError("neighbor_budget needs spec.key for the sample order")
        of = sample_neighbors(
            of, spec.neighbor_budget, seed=seed, src="child_key", dst="parent_key"
        )
    # dict_encode's code contract (NULL→0, sorted distinct non-null
    # values→1..n) makes max(code)+1 = countDistinct+1, so the
    # cardinality rides the stats pass instead of re-running the
    # sampled child plan for a max(code) job
    aggs = [F.count(F.lit(1)).alias("n"), F.countDistinct("__cat").alias("n_cat")]
    for c in feat_cols:
        aggs.append(F.sum(F.col(c).cast(DECIMAL_TYPE)).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(DECIMAL_TYPE)).alias(f"q_{c}"))
    st = of.agg(*aggs).first()
    n = st["n"]
    if not n:
        raise ValueError(f"_assemble_child_frame: no rows in {spec.table}")
    comps = []
    for c in feat_cols:
        mu = float(st[f"s_{c}"]) / n
        sd = max(float(st[f"q_{c}"]) / n - mu * mu, 1e-12) ** 0.5
        comps.append((F.col(c) - F.lit(mu)) / F.lit(sd))
    of = dict_encode(of, "__cat", out="code")
    out_cols = ["parent_key"] + (["child_key"] if has_key else [])
    return of.select(*out_cols, "code", F.array(*comps).alias("x")), st["n_cat"] + 1


def _with_child_hbar(frame: DataFrame, child_hb: DataFrame | None, d_child: int):
    """Join the child level's fold ``(parent_key, deg, hbar)`` onto
    this level's rows by ``child_key``; rows without children get a
    zero hbar and deg 0 (the same convention the head applies to
    childless roots)."""
    if child_hb is None:
        return frame
    hb = child_hb.select(
        F.col("parent_key").alias("child_key"),
        F.col("deg").alias("__child_deg"),
        F.col("hbar").alias("__child_hbar"),
    )
    zeros = F.array(*[F.lit(0.0)] * d_child)
    return (
        frame.join(hb, "child_key", "left")
        .withColumn("__child_hbar", F.coalesce("__child_hbar", zeros))
        .withColumn("__child_deg", F.coalesce("__child_deg", F.lit(0)))
    )


def _level_hidden(E, W, b, code, xs):
    """One Arrow batch of a level's rows: the design ``X = [E[code] ++
    xs…]`` (:func:`~.training.design_rows`) and its activation ``H =
    tanh(X·W + b)`` — the forward every level kernel starts from."""
    X = design_rows(E, code, *xs)
    return X, np.tanh(row_logits(X, W, b))


def _level_delta(E, W, b, code, xs, gout, gdeg):
    """``X`` and the pre-activation gradient ``D = G·(1 − H²)`` of a
    level's rows, where ``G = gout/gdeg`` is each row's dL/dh (the
    parent's gradient split over its children)."""
    X, H = _level_hidden(E, W, b, code, xs)
    G = np.vstack(gout.to_list()) / gdeg.to_numpy(dtype=np.float64)[:, None]
    return X, G * (1.0 - H * H)


def _layer_forward_frame(
    frame: DataFrame,
    E: np.ndarray,
    W: np.ndarray,
    b: np.ndarray,
    d: int,
    child_hb: DataFrame | None = None,
    d_child: int = 0,
) -> DataFrame:
    """Layer forward + per-parent decimal fold — one lazy frame
    ``(parent_key, deg, hbar array<double>)``. The UDF embeds the
    code (in-kernel broadcast join), appends the joined child hbar
    when the spec has a deeper layer, and emits each tanh component
    dec9-quantized (one rounding rule on engine and twin), so
    ``cast(sum AS DOUBLE)/deg`` is partitioning-independent —
    bit-equal to the twin's ``float(Decimal)/deg``."""
    Ec, Wc, bc = E.copy(), W.copy(), b.copy()
    frame = _with_child_hbar(frame, child_hb, d_child)
    cols = ["code", "x"]
    if child_hb is not None:
        cols.append("__child_hbar")

    def h_kernel(code, *xs):
        return _level_hidden(Ec, Wc, bc, code, xs)[1]

    h = frame.select("parent_key", dec9_udf(h_kernel, *cols).alias("h"))
    sums = h.groupBy("parent_key").agg(
        F.count(F.lit(1)).alias("deg"),
        *[F.sum(F.element_at("h", j + 1)).alias(f"s{j}") for j in range(d)],
    )
    return sums.select(
        "parent_key",
        "deg",
        F.array(
            *[F.col(f"s{j}").cast("double") / F.col("deg") for j in range(d)]
        ).alias("hbar"),
    )


def _level1_gradient_frame(spark, bids, gH, degs) -> DataFrame | None:
    """Level 1's gradient frame ``(key, gout, gdeg)`` from the driver
    head step: one row per batch root with children (``None`` when
    every root is childless). Built from a ``pyarrow.Table`` on the
    driver, so the frame is a ``LocalTableScan`` — no Python-RDD job
    and no Python worker per step, whatever the Arrow conf — and the
    ``gout`` doubles are the head's values unchanged."""
    import pyarrow as pa

    keep = degs > 0
    if not keep.any():
        return None
    g = gH[keep]
    gout = pa.ListArray.from_arrays(
        pa.array(np.arange(0, g.size + 1, g.shape[1], dtype=np.int32)),
        pa.array(g.ravel()),
    )
    table = pa.table({"key": bids[keep], "gout": gout, "gdeg": degs[keep]})
    return spark.createDataFrame(
        table, "key bigint, gout array<double>, gdeg bigint"
    )


def _join_gradient(frame: DataFrame, g_frame: DataFrame) -> DataFrame:
    """Attach the parent-level gradient ``(key, gout, deg)`` to this
    level's rows (inner: a row without a parent gradient is outside
    the batch's receptive field by construction)."""
    g = g_frame.select(
        F.col("key").alias("parent_key"),
        F.col("gout").alias("__gout"),
        F.col("gdeg").alias("__gdeg"),
    )
    return frame.join(g, "parent_key", "inner")


def _layer_backward_fold(
    joined: DataFrame,
    E: np.ndarray,
    W: np.ndarray,
    b: np.ndarray,
    d_e: int,
    m: int,
    d: int,
    card: int,
    with_child: bool,
):
    """Backprop through the aggregation and tanh. Per row: ``g =
    gout/gdeg`` (dL/dh for this row), ``delta = g * (1 - h²)``; the
    dec9 vector ``[X (x) delta ++ delta]`` is folded by
    :func:`~.training.fold_dec9` into ``(dW, db, demb)`` exactly as in
    the original two-layer trainer (``demb[c] = (Σ_{code=c} delta) @
    W[:d_e].T``). ONE Spark job, the fold keyed by code: the per-code
    delta sums give ``demb`` and their exact ``Decimal`` total gives
    ``dW``/``db``. Bit-deterministic under any partitioning; a NULL
    (overflowed) sum raises."""
    glen = m * d + d
    Ec, Wc, bc = E.copy(), W.copy(), b.copy()
    cols = ["code", "x"]
    if with_child:
        cols.append("__child_hbar")

    def g_kernel(code, *rest):
        *xs, gout, gdeg = rest
        X, D = _level_delta(Ec, Wc, bc, code, xs, gout, gdeg)
        return np.concatenate(
            [(X[:, :, None] * D[:, None, :]).reshape(len(X), -1), D], axis=1
        )

    g = joined.select(
        "code", dec9_udf(g_kernel, *cols, "__gout", "__gdeg").alias("g")
    )
    tot, by_code, _n = fold_dec9(g, glen, by="code")
    demb = np.zeros((card, d_e))
    for c, s in by_code.items():
        demb[c] = np.array(s[m * d :]) @ Wc[:d_e].T
    return tot[: m * d].reshape(m, d), tot[m * d :], demb


def _layer_g_next_frame(
    joined: DataFrame,
    E: np.ndarray,
    W: np.ndarray,
    b: np.ndarray,
    d_e: int,
    nx: int,
    d: int,
    d_child: int,
) -> DataFrame:
    """Produce the NEXT level's gradient frame ``(key, gout, gdeg)``
    from this level's rows — one per-row Spark job, no driver state:
    ``gout = delta @ W[hbar-slice].T`` (fixed-order accumulation) and
    ``gdeg`` = this row's child count (the mean divisor). Rows without
    children carry gdeg 0 and are dropped by the child's inner
    gradient join before any division happens."""
    import pandas as pd

    Ec, Wc, bc = E.copy(), W.copy(), b.copy()
    WhT = W[d_e + nx :].T.copy()  # (d, d_child)
    zeros = np.zeros(d_child)

    def gn_kernel(code, x, chb, gout, gdeg):
        _X, D = _level_delta(Ec, Wc, bc, code, (x, chb), gout, gdeg)
        out = row_logits(D, WhT, zeros)
        return pd.Series([list(map(float, row)) for row in out])

    gout = kernel_udf(
        gn_kernel, "array<double>", "code", "x", "__child_hbar", "__gout", "__gdeg"
    )
    return joined.select(
        F.col("child_key").alias("key"),
        gout.alias("gout"),
        F.col("__child_deg").alias("gdeg"),
    )


def _layer_dims(layers) -> list[tuple[int, int, int, int]]:
    """Per layer ``(d_e, nx, d, m)``: embedding width, input features,
    hidden width, and W's row count (emb ++ features ++ child hbar)."""
    dims = []
    for i, spec in enumerate(layers):
        d_child = layers[i + 1].hidden_dim if i + 1 < len(layers) else 0
        m_i = spec.emb_dim + spec.n_feats + d_child
        dims.append((spec.emb_dim, spec.n_feats, spec.hidden_dim, m_i))
    return dims


def _forward_chain(level_frames, l_emb, l_W, l_b, dims):
    """The forward folds bottom-up. Returns the top fold (keyed by
    root, lazy) and ``child_hb_for``: per level, the lineage-cut fold
    of the level below that its rows join (``None`` at the bottom)."""
    L = len(dims)
    child_hb_for: dict[int, DataFrame | None] = {L - 1: None}
    hb = None
    for i in reversed(range(L)):
        d_child = dims[i + 1][2] if i + 1 < L else 0
        hb = _layer_forward_frame(
            level_frames[i], l_emb[i], l_W[i], l_b[i], dims[i][2],
            child_hb=hb, d_child=d_child,
        )
        if i > 0:
            hb = cut_lineage(hb, eager=True)
            child_hb_for[i - 1] = hb
    return hb, child_hb_for


def _score_roots(frame, frames, params, dims, task) -> DataFrame:
    """Score every root: the forward folds with the trained
    parameters, the top ``hbar`` left-joined onto the root frame
    (childless roots get zeros), and the head in ONE Arrow pass — the
    argmax class, or the standardized k=1 output for regression.
    Returns the lazy ``(node_id, label, split, pred)`` frame; the same
    fixed-order ``row_logits`` accumulation as training, nothing
    root-sized on the driver."""
    lay = params["layers"]
    hb, _ = _forward_chain(
        frames, [p["emb"] for p in lay], [p["W"] for p in lay],
        [p["b"] for p in lay], dims,
    )
    Ec = params["emb"].copy()
    Wc, bc = params["W_head"].copy(), params["b_head"].copy()
    pred = head_pred_udf(
        lambda code, nums, hbar: row_logits(design_rows(Ec, code, nums, hbar), Wc, bc),
        task, "code", "nums", "hbar",
    )
    zeros = F.array(*[F.lit(0.0)] * dims[0][2])
    return (
        frame.join(
            hb.select(F.col("parent_key").alias("node_id"), "hbar"),
            "node_id",
            "left",
        )
        .withColumn("hbar", F.coalesce("hbar", zeros))
        .select("node_id", "label", "split", pred.alias("pred"))
    )


def _assembly_inputs(
    tables, primary_keys, foreign_keys, layers, target, cat_col, num_cols,
    seed, neighbor_budget, task,
):
    """What a scored root frame is built from: the table frames (held
    to be compared by identity) and a snapshot of every other
    argument (compared by value, so a later edit of the caller's key
    dicts reads as different inputs)."""
    return dict(tables), deepcopy(
        (primary_keys, foreign_keys, tuple(layers), tuple(target), cat_col,
         tuple(num_cols), seed, neighbor_budget, task)
    )


def _same_inputs(carried, inputs) -> bool:
    """Does ``inputs`` (from :func:`_assembly_inputs`) match what a
    result's scored frame was built from (``None``: it carries none)?"""
    if carried is None:
        return False
    (ta, rest_a), (tb, rest_b) = carried, inputs
    return (
        ta.keys() == tb.keys()
        and all(ta[t] is tb[t] for t in ta)
        and rest_a == rest_b
    )


def train_relational_stack(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    layers: tuple[EdgeLayerSpec, ...] = (ORDERS_LAYER_SPEC,),
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    dim: int = 4,
    epochs: int = 3,
    n_batches: int = 2,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    task: str = "classification",
) -> TrainResult:
    """Minibatch SGD through a depth-(L+1) stack declared by
    ``layers`` — see the module docstring for the model, the
    determinism contract, and the scale posture. ``neighbor_budget``
    caps the ROOT frame's aggregate fan-out (the head's untrained
    neighbor statistics); each layer's fan-out cap lives on its spec.

    ``task="regression"`` swaps the head for the k=1 linear /
    half-squared-error branch (train-standardized double label, the
    reference's ``TaskType.REGRESSION``/``MSELoss`` —
    ``nn/lightning/lightning_wrapper.py:40,50-55``); the deep layers
    are unchanged, and ``TrainResult.accuracy`` carries per-split MSE
    in standardized-label space.

    The per-split metric is aggregated from the lineage-cut scored
    root frame (:func:`_score_roots`), which the result carries for
    :func:`predict_relational_stack` to reuse (see
    :class:`~.training.TrainResult`).

    Driver residency in the training loop is O(batch), never O(roots):
    the portable-hash batch assignment runs in Spark and each step
    collects only its own batch's root rows, node_id-sorted (the
    reference's seed-node batches,
    ``experiments/blueprint_mlflow.py:119-133``).
    """
    from ..functions.hashing import knuth_hash

    L = len(layers)
    if L == 0:
        raise ValueError("train_relational_stack needs at least one layer spec")
    for i in range(L - 1):
        if layers[i].key is None:
            raise ValueError(
                f"layer {i} ({layers[i].table}) needs a key expression — "
                "the next layer's rows join by their fk to these keys"
            )

    frame, meta = assemble_training_frame(
        tables,
        primary_keys,
        foreign_keys,
        target,
        cat_col,
        num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
        task=task,
    )
    spark = frame.sparkSession
    frames: list[DataFrame] = []
    cards: list[int] = []
    for spec in layers:
        f, card = _assemble_child_frame(tables, spec, seed)
        frames.append(cut_lineage(f, eager=True))
        cards.append(card)

    # the seed-node set: the batch assignment is the portable knuth
    # hash computed in Spark; each step collects only its own batch's
    # rows, node_id-sorted, so the head-step arrays are the twin's
    y_dtype = np.float64 if task == "regression" else np.int64
    train_f = cut_lineage(
        frame.filter(F.col("split") == "train")
        .select("node_id", "code", "nums", "label")
        .withColumn(
            "__batch", knuth_hash(F.col("node_id"), seed + 7) % F.lit(n_batches)
        ),
        eager=True,
    )
    present = {
        int(r["__batch"]) for r in train_f.select("__batch").distinct().collect()
    }
    if present != set(range(n_batches)):
        raise ValueError(
            "train_relational_stack: a batch is empty — lower n_batches "
            "or grow the input"
        )

    def batch_arrays(bi):
        rows = sorted(
            train_f.filter(F.col("__batch") == bi).drop("__batch").collect(),
            key=lambda r: r["node_id"],
        )
        return (
            np.array([r["node_id"] for r in rows], dtype=np.int64),
            np.array([r["code"] for r in rows], dtype=np.int64),
            np.array([list(r["nums"]) for r in rows], dtype=np.float64),
            np.array([r["label"] for r in rows], dtype=y_dtype),
        )

    k = meta["n_classes"]
    m = meta["n_num"]
    card0 = meta["n_codes"]
    # pinned init-draw order: root embedding, then every layer's
    # embedding, then every layer's W, then the head — for L=1 this is
    # the original two-layer order (emb, emb1, W1, W2)
    rng = np.random.default_rng(seed)
    emb = rng.uniform(-0.5, 0.5, size=(card0, dim))
    l_emb = [
        rng.uniform(-0.5, 0.5, size=(cards[i], layers[i].emb_dim))
        for i in range(L)
    ]
    dims = _layer_dims(layers)
    l_W = [
        rng.uniform(-0.5, 0.5, size=(dims[i][3], dims[i][2])) * 0.1 for i in range(L)
    ]
    l_b = [np.zeros(dims[i][2]) for i in range(L)]
    d1 = dims[0][2]
    W_head = rng.uniform(-0.5, 0.5, size=(dim + m + d1, k)) * 0.1
    b_head = np.zeros(k)

    # receptive-field pruning, built ONCE per batch (the portable-hash
    # batches never change across epochs): broadcast semi-joins down
    # the stack, materialized so every epoch's steps reuse the pruned
    # frames instead of re-running the join chain per action
    batch_frames: list[list[DataFrame]] = []
    for bi in range(n_batches):
        batch_keys = F.broadcast(
            train_f.filter(F.col("__batch") == bi).select(
                F.col("node_id").alias("parent_key")
            )
        )
        f_b = [
            cut_lineage(
                frames[0].join(batch_keys, "parent_key", "leftsemi"), eager=True
            )
        ]
        for i in range(1, L):
            parent_keys = f_b[i - 1].select(
                F.col("child_key").alias("parent_key")
            )
            f_b.append(
                cut_lineage(
                    frames[i].join(parent_keys, "parent_key", "leftsemi"),
                    eager=True,
                )
            )
        batch_frames.append(f_b)

    losses: list[float] = []
    for _ in range(epochs):
        for bi in range(n_batches):
            bids, codes_b, nums_b, y_b = batch_arrays(bi)
            n_b = len(bids)
            f_b = batch_frames[bi]

            hb1, child_hb_for = _forward_chain(f_b, l_emb, l_W, l_b, dims)
            hbar = np.zeros((n_b, d1))
            degs = np.zeros(n_b, dtype=np.int64)
            hb_rows = {
                int(r["parent_key"]): (np.array(r["hbar"]), r["deg"])
                for r in hb1.collect()
            }
            for j, i in enumerate(bids):
                if int(i) in hb_rows:
                    hbar[j], degs[j] = hb_rows[int(i)]
            extra_l2 = float(sum(float((E * E).sum()) for E in l_emb)) + float(
                sum(float((W * W).sum()) for W in l_W[1:])
            )
            loss, GW2, gb2, demb0, gH = two_layer_head_step(
                codes_b, nums_b, hbar, y_b, emb, l_W[0], W_head, b_head,
                l2, extra_l2=extra_l2, task=task,
            )
            losses.append(loss)

            # level-1 gradient frame from the head (bounded by batch
            # size; broadcast into the join), then fold level by level
            g1 = _level1_gradient_frame(spark, bids, gH, degs)
            grads = []
            if g1 is not None:
                g_frame = F.broadcast(g1)
                for i in range(L):
                    d_e, nx, d, m_i = dims[i]
                    with_child = i + 1 < L
                    joined = _join_gradient(
                        _with_child_hbar(
                            f_b[i],
                            child_hb_for[i],
                            dims[i + 1][2] if with_child else 0,
                        ),
                        g_frame,
                    )
                    grads.append(
                        _layer_backward_fold(
                            joined, l_emb[i], l_W[i], l_b[i], d_e, m_i, d,
                            cards[i], with_child,
                        )
                    )
                    if with_child:
                        g_frame = _layer_g_next_frame(
                            joined, l_emb[i], l_W[i], l_b[i], d_e, nx, d,
                            dims[i + 1][2],
                        )
            else:  # every batch root is childless — nothing to backprop
                grads = [
                    (
                        np.zeros_like(l_W[i]),
                        np.zeros_like(l_b[i]),
                        np.zeros_like(l_emb[i]),
                    )
                    for i in range(L)
                ]

            # all folds computed at step-start parameters; update last
            emb -= lr * (demb0 / n_b + l2 * emb)
            W_head -= lr * (GW2 / n_b + l2 * W_head)
            b_head -= lr * (gb2 / n_b)
            for i in range(L):
                dW, db_i, demb_i = grads[i]
                l_emb[i] -= lr * (demb_i / n_b + l2 * l_emb[i])
                l_W[i] -= lr * (dW / n_b + l2 * l_W[i])
                l_b[i] -= lr * (db_i / n_b)

    params = {
        "emb": emb,
        "W_head": W_head,
        "b_head": b_head,
        "layers": [
            {"emb": l_emb[i], "W": l_W[i], "b": l_b[i]} for i in range(L)
        ],
    }
    scored = cut_lineage(_score_roots(frame, frames, params, dims, task), eager=True)
    return TrainResult(
        losses=losses,
        accuracy=split_metric(scored, task),
        params=params,
        scored=scored,
        meta=meta,
        scored_from=_assembly_inputs(
            tables, primary_keys, foreign_keys, layers, target, cat_col,
            num_cols, seed, neighbor_budget, task,
        ),
    )


def predict_relational_stack(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    result,
    layers: tuple[EdgeLayerSpec, ...] = (ORDERS_LAYER_SPEC,),
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    seed: int = 42,
    neighbor_budget: int | None = 5,
    task: str = "classification",
) -> DataFrame:
    """Batch inference: score every root node with a trained stack's
    parameters (``result`` is the :class:`TrainResult` from
    :func:`train_relational_stack`, or its ``params`` dict) — the
    write-predictions-back surface behind the trainer's per-split
    metric. Returns ``(node_id, label, split, pred)`` — and for
    regression also ``pred_raw`` (de-standardized with the train-split
    mean/std the assembly recorded), since ``pred``/``label`` live in
    standardized space.

    Transductive contract (matches the reference experiment's predict
    step): the feature assembly — aggregation stats standardization,
    label factorization, splits — derives from THIS database with THIS
    seed, exactly as at train time, so pass the same arguments the
    trainer got. Per-split accuracy/MSE aggregated from this frame is
    bit-identical to ``result.accuracy``.

    Scale shape: scoring is :func:`_score_roots`, the one path the
    trainer's own evaluation runs — the per-layer forward folds, then
    ONE Arrow pass over the root frame joined to the top fold, nothing
    root-sized on the driver. A :class:`TrainResult` carries the
    lineage-cut frame its metric was aggregated from; given the same
    table frames (``is``) and equal remaining arguments, that frame is
    returned as-is (no assembly, no forward fold — writing it is one
    job), so the per-split metric matches ``result.accuracy`` by
    construction. A params dict (e.g. a loaded model) or any other
    inputs re-assemble and score."""
    inputs = _assembly_inputs(
        tables, primary_keys, foreign_keys, layers, target, cat_col,
        num_cols, seed, neighbor_budget, task,
    )
    if isinstance(result, TrainResult) and _same_inputs(result.scored_from, inputs):
        out, meta = result.scored, result.meta
    else:
        params = result.params if isinstance(result, TrainResult) else result
        frame, meta = assemble_training_frame(
            tables, primary_keys, foreign_keys, target, cat_col, num_cols,
            seed=seed, neighbor_budget=neighbor_budget, task=task,
        )
        frames = [
            cut_lineage(_assemble_child_frame(tables, spec, seed)[0], eager=True)
            for spec in layers
        ]
        out = _score_roots(frame, frames, params, _layer_dims(layers), task)
    if task == "regression":
        out = out.withColumn(
            "pred_raw",
            F.col("pred") * F.lit(float(meta["y_std"]))
            + F.lit(float(meta["y_mean"])),
        )
    return out
