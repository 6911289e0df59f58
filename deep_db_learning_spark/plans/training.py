"""Trainable end-to-end relational classifier (SURVEY N1/N20/N21/N24 —
the reference's raison d'être: ``nn/lightning/lightning_wrapper.py:36-96``
runs torch-Lightning epochs over the blueprint model;
``experiments/blueprint_mlflow.py:196-216`` wires trainer + MLflow).

Spark-first training story
--------------------------

The learnable state is TINY (a categorical embedding table of
``card × dim`` doubles and a linear decoder ``(dim + m) × k``); the DATA
is huge. So the split is:

- **parameters on the driver** (numpy; seeded, deterministic),
- **every data-parallel pass on Spark**: the design matrix is assembled
  once (graph build → neighbor aggregation → standardization — all
  DataFrame ops) and persisted; each SGD step is ONE Spark job over its
  batch — a vectorized Arrow UDF (:func:`dec9_udf`) computes per-row
  loss / residual / flattened gradient outer-product, and one exact
  decimal fold (:func:`fold_dec9`, keyed by code) sums everything. The
  stack levels, both decision heads and both full encoders fold through
  the same two helpers.
- **one decision head**: every trainer ends in the reference's decoder
  head (logits, then softmax cross-entropy, or half-squared error for
  regression — ``nn/lightning/lightning_wrapper.py:40,50-55``).
  :func:`head_loss` is its one per-row loss and residual,
  :func:`head_pred_udf` its one Arrow prediction column (argmax class
  or the k=1 output), and :func:`design_rows` the one in-kernel row
  design ``[E[code] ++ arrays…]``; every Arrow kernel is built by
  :func:`kernel_udf`.

The full-batch classifier, the minibatch classifier and the regressor
run ONE loop (:func:`_sgd_head`); full-batch is that loop with a single
batch. The decimal folds make each step's gradients
**bit-deterministic** under any partitioning (decimal addition is
associative — the ``exact_agg`` argument), so the whole training
trajectory — losses, parameters, predictions — is reproducible
run-to-run and oracle-checkable against pinned goldens. Full-batch
gradient descent on a convex objective (softmax cross-entropy, fixed
lr, optional L2) guarantees the train loss decreases monotonically at
a small enough lr.

This is exactly the reference's join-apply-update shape expressed
relationally: *join* the embedding table onto the fact rows (the code
column indexes the driver-side table inside the kernel — an in-memory
broadcast join), *apply* the forward/backward math batch-vectorized,
*update* the small parameter tables on the driver.

Scale note: at cluster scale with LARGE parameter state (deep message
passing, text encoders), the driver update would give way to a
data-parallel trainer over the materialized feature frame (e.g.
``pyspark.ml.torch.distributor.TorchDistributor`` running DDP over its
Parquet shards); :func:`assemble_training_frame` is the plan such a
trainer would consume unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.encode import factorize_target
from ..functions.exact_agg import DECIMAL_TYPE
from ..operators.graph import build_hetero_graph
from ..operators.sampling import random_node_split
from ..checkpoint import cut_lineage


_DEC9_EXP = None


# dec9 quantizes in Python's 28-digit decimal context: 9 fractional
# digits leave 19 integer digits, so |x| must stay below 1e19
_DEC9_BOUND = 1e19


def _dec9_py(Decimal, x):
    """Round a float to the fold scale exactly like the oracle twin:
    ``Decimal(repr(x))`` (shortest round-trip string) quantized HALF_UP
    to 9 fractional digits. NaN, ±inf and ``|x| >= 1e19`` (past the
    28-digit context) raise ``ArithmeticError`` naming the value — a
    diverging gradient fails loudly instead of folding as NaN."""
    global _DEC9_EXP
    from decimal import ROUND_HALF_UP

    x = float(x)
    if not -_DEC9_BOUND < x < _DEC9_BOUND:
        raise ArithmeticError(
            f"dec9 cannot quantize {x!r}: |x| must be finite and below {_DEC9_BOUND:g}"
        )
    if _DEC9_EXP is None:
        _DEC9_EXP = Decimal("1.000000000")
    return Decimal(repr(x)).quantize(_DEC9_EXP, rounding=ROUND_HALF_UP)


def kernel_udf(kernel, returns: str, *cols):
    """An Arrow UDF over ``cols`` (names or Columns) whose numpy
    ``kernel`` gets one ``pd.Series`` per column and returns the
    ``pd.Series`` result of type ``returns``. The columns ride in one
    struct, so one closure serves any argument count — the one way the
    trainers build an Arrow kernel."""
    from ..operators.kernels import _pandas_udf

    n = len(cols)

    def fn(v):
        return kernel(*[v[f"a{i}"] for i in range(n)])

    arg = F.struct(
        *[
            (F.col(c) if isinstance(c, str) else c).alias(f"a{i}")
            for i, c in enumerate(cols)
        ]
    )
    return _pandas_udf(fn, returns, struct_input=True)(arg)


def dec9_udf(kernel, *cols):
    """The per-row gradient column every trainer folds: a
    :func:`kernel_udf` whose numpy ``kernel`` returns an ``(n, glen)``
    float matrix; each component is emitted as
    ``array<decimal(30,9)>`` through :func:`_dec9_py`. The rounding
    happens HERE, in Python, not as a JVM cast: the JVM's
    double→decimal cast goes through ``Double.toString``, which
    (pre-Ryu JDKs) occasionally emits a non-shortest string that
    quantizes differently from Python's ``repr`` at a scale-9 tie — one
    rounding rule on the engine and the oracle twin. ``kernel`` closes
    over the caller's parameter copies (a fresh closure per step ships
    the current values)."""
    import pandas as pd

    def dec9_kernel(*series):
        from decimal import Decimal

        out = kernel(*series)
        return pd.Series([[_dec9_py(Decimal, x) for x in row] for row in out])

    return kernel_udf(dec9_kernel, f"array<{DECIMAL_TYPE}>", *cols)


def _fold_query(g: DataFrame, by: str | None = None) -> DataFrame:
    """The plan :func:`fold_dec9` collects: ``posexplode_outer(g) →
    groupBy([by,] pos) → sum, count``. The ``_outer`` form keeps the
    ``dec9_udf`` kernel to ONE evaluation per row: for a plain
    ``posexplode`` Spark infers ``size(g) > 0 AND isnotnull(g)`` and
    pushes that filter below the projection that computes ``g``, so the
    plan runs the kernel twice (two ``ArrowEvalPython`` nodes, two
    Python workers). ``dec9_udf`` vectors are never NULL or empty, so
    the rows are the same; an illegal NULL/empty vector surfaces as a
    NULL ``pos`` that :func:`fold_dec9` rejects."""
    keys = [by] if by else []
    return (
        g.select(*keys, F.posexplode_outer("g").alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    )


def fold_dec9(g: DataFrame, glen: int, by: str | None = None):
    """ONE Spark job folding the dec9 vectors of column ``g`` (each of
    length ``glen``) as exact decimals: :func:`_fold_query`'s
    ``posexplode_outer → groupBy([by,] pos) → sum, count``, one
    ``dec9_udf`` evaluation per row. Decimal addition is exact and
    associative, so every sum is partitioning-independent. The shuffle
    is narrow ``(pos, decimal)`` pairs and the driver collects ``glen``
    rows (per ``by`` key) — safe at any component count, where a wide
    one-row aggregate of thousands of expressions is a plan-compilation
    hazard.

    Returns ``(tot, per_key, n)``: the float64 totals, ``{key: float64
    sums}`` when ``by`` is set (else ``{}``), and the folded row count.
    With ``by`` the totals are the exact ``Decimal`` sums of the per-key
    sums — the same values a global fold gives. An empty frame folds to
    zeros with ``n == 0``. A NULL sum (decimal overflow: non-ANSI Spark
    nulls instead of raising), a missing position (a row shorter than
    ``glen``) or a NULL/empty vector raises ``ArithmeticError`` — never
    a silent zero gradient."""
    import numpy as np
    from decimal import Decimal

    sums: dict = {}
    counts: dict = {}
    for r in _fold_query(g, by).collect():
        key = r[by] if by else None
        if r["pos"] is None:
            raise ArithmeticError(
                f"dec9 fold got {r['c']} NULL or empty vector(s) (key {key!r})"
            )
        if r["s"] is None:
            raise ArithmeticError(
                f"decimal overflow in the dec9 fold: NULL sum at position "
                f"{r['pos']} over {r['c']} rows"
            )
        sums.setdefault(key, {})[r["pos"]] = r["s"]
        counts.setdefault(key, set()).add(r["c"])
    for key, s in sums.items():
        if len(s) != glen or max(s) != glen - 1 or len(counts[key]) != 1:
            raise ArithmeticError(
                f"dec9 fold expected positions 0..{glen - 1} with one row "
                f"count (key {key!r}: {len(s)} positions, row counts "
                f"{sorted(counts[key])})"
            )
    n = sum(c.pop() for c in counts.values())
    if by is None:
        tot = [sums[None][i] for i in range(glen)] if sums else [0] * glen
    else:
        tot = [Decimal(0)] * glen
        for s in sums.values():
            tot = [t + s[i] for i, t in enumerate(tot)]
    per_key = {
        key: np.array([float(s[i]) for i in range(glen)], dtype=np.float64)
        for key, s in sums.items()
    } if by else {}
    return np.array([float(t) for t in tot], dtype=np.float64), per_key, n


def row_logits(X, W, b):
    """``X @ W + b`` as a FIXED-ORDER accumulation: start from the bias
    and add one rank-1 term per input dimension. A BLAS GEMM may change
    blocking/FMA strategy with the batch row count, making per-row
    results differ by ulps between Arrow batch sizes — which would break
    the bit-reproducibility contract under repartitioning (and the
    numpy oracle twin, which sees all rows in one batch). Elementwise
    ops are batch-size-independent; the input dimension is small
    (dim + m ≈ 11), so the Python-level loop costs nothing."""
    import numpy as np

    logits = np.broadcast_to(b, (X.shape[0], b.shape[0])).copy()
    for j in range(X.shape[1]):
        logits += X[:, j : j + 1] * W[j]
    return logits


def design_rows(E, code, *arrays):
    """One Arrow batch's design rows ``X = [E[code] ++ arrays…]``: the
    in-kernel embedding lookup (the driver table ``E`` indexed by the
    ``code`` Series — an in-memory broadcast join) followed by each
    ``array<double>`` Series stacked as a matrix."""
    import numpy as np

    return np.concatenate(
        [E[code.to_numpy(dtype=np.int64)]] + [np.vstack(a.to_list()) for a in arrays],
        axis=1,
    )


def head_loss(logits, y, task: str):
    """The decision head's per-row loss and residual over ``(n, k)``
    ``logits`` — the one copy every trainer runs. Classification:
    max-shifted softmax cross-entropy against integer labels ``y``,
    residual ``P − onehot(y)``. Regression (k=1): half-squared error
    ``0.5·r²`` with ``r = logits[:, 0] − y`` and residual ``r``; torch's
    ``MSELoss`` is mean ``r²``, so losses and gradients are exactly half
    the reference's (absorbed into the learning rate). Returns
    ``(loss_rows (n,), resid (n, k))``; the residual is dL/dlogits."""
    import numpy as np

    if task == "regression":
        r = logits[:, 0] - np.asarray(y, dtype=np.float64)
        return 0.5 * r * r, r[:, None]
    y = np.asarray(y, dtype=np.int64)
    shifted = logits - logits.max(axis=1, keepdims=True)
    ex = np.exp(shifted)
    P = ex / ex.sum(axis=1, keepdims=True)
    rows = np.arange(len(y))
    loss = -np.log(P[rows, y])
    P[rows, y] -= 1.0
    return loss, P


def head_pred_udf(kernel, task: str, *cols):
    """The decision head's prediction column: a :func:`kernel_udf`
    whose ``kernel`` returns one Arrow batch's ``(n, k)`` logits. Emits
    the argmax class as ``bigint`` (classification) or the k=1 output
    as ``double`` (regression, standardized-label space)."""
    import numpy as np
    import pandas as pd

    regression = task == "regression"

    def pred_kernel(*series):
        logits = kernel(*series)
        if regression:
            return pd.Series(logits[:, 0])
        return pd.Series(np.argmax(logits, axis=1).astype(np.int64))

    return kernel_udf(pred_kernel, "double" if regression else "bigint", *cols)


def _gradient_pass(df, E, Wc, bc, dim, m, k, card, task="classification"):
    """ONE Spark job: per-row loss/residual/gradient via a
    :func:`dec9_udf` kernel over ``df(code, nums array<double>,
    label)``, folded per code by :func:`fold_dec9`. Returns
    ``(loss_sum, resid_tot, GW, resid_by_code)`` — the raw
    (unnormalized, unregularized) sums, bit-deterministic under any
    partitioning. The one gradient job of :func:`_sgd_head`.

    ``task``: ``"classification"`` (softmax cross-entropy over k
    classes, int labels) or ``"regression"`` (k=1 linear output,
    half-squared error, double labels) — :func:`head_loss`. Both emit
    the same ``[loss, resid(k), grad_W(dim+m × k)]`` row layout, so the
    fold, accumulation, and update algebra are shared."""
    import numpy as np

    glen = 1 + k + (dim + m) * k

    def grad_kernel(code, nums, label):
        X = design_rows(E, code, nums)
        loss, resid = head_loss(row_logits(X, Wc, bc), label, task)
        gw = (X[:, :, None] * resid[:, None, :]).reshape(len(X), -1)
        return np.concatenate([loss[:, None], resid, gw], axis=1)

    g = df.select("code", dec9_udf(grad_kernel, "code", "nums", "label").alias("g"))
    tot, by_code, _n = fold_dec9(g, glen, by="code")
    resid_by_code = np.zeros((card, k))
    for c, s in by_code.items():
        resid_by_code[c] = s[1 : 1 + k]
    GW = tot[1 + k :].reshape(dim + m, k)
    return float(tot[0]), tot[1 : 1 + k], GW, resid_by_code


# The minibatch/regression hyperparameters the driver query AND its
# oracle twin share — one definition so the pinned VALUES trajectory
# can never drift from what q_train_relational actually runs.
MINIBATCH_BENCH_CONFIG = {"epochs": 4, "n_batches": 2, "neighbor_budget": 5}
REGRESSION_BENCH_CONFIG = {"epochs": 6, "lr": 0.2}


@dataclass
class TrainResult:
    """What a trainer returns: the loss trajectory, the per-split
    metric, and the trained parameters.

    ``train_relational_stack`` also carries the scored root frame
    ``(node_id, label, split, pred)`` its metric was aggregated from,
    the assembly ``meta`` (regression's de-standardization), and the
    inputs both came from; ``predict_relational_stack`` returns that
    frame for the same inputs instead of scoring again. The frame is
    lineage-cut, so it pins root-sized checkpoint blocks until the
    result is dropped. Inputs are static, the contract
    ``profiling.analyzer._PROFILE_CACHE`` and
    ``operators.graph._PACKED_STATS`` already hold: the table frames
    are matched by identity, so after mutating a source, pass freshly
    read frames."""

    losses: list[float]  # per-epoch TRAIN loss (mean cross-entropy)
    accuracy: dict[str, float] = field(default_factory=dict)  # split → acc
    params: dict = field(default_factory=dict)  # "emb", "W", "b" (numpy)
    scored: DataFrame | None = field(default=None, repr=False, compare=False)
    meta: dict | None = field(default=None, repr=False, compare=False)
    scored_from: tuple | None = field(default=None, repr=False, compare=False)



def split_metric(scored: DataFrame, task: str) -> dict[str, float]:
    """The per-split metric of a ``(split, label, pred)`` frame, in one
    Spark job — the evaluation every trainer ends with. Classification:
    accuracy, the mean of ``pred == label`` as 0.0/1.0 (a sum of ones is
    exact below 2^53 rows). Regression: MSE with each squared error
    folded as an exact decimal (``cast(err² AS DECIMAL(30,9))``), so the
    value depends on neither the partitioning nor the summation order
    and a driver-side ``Decimal`` replay reproduces it bit for bit
    (``train_oracle._stack_losses(with_accuracy=True)``)."""
    if task == "regression":
        err = F.col("pred") - F.col("label")
        metric = F.sum((err * err).cast(DECIMAL_TYPE)).cast("double") / F.count(
            F.lit(1)
        )
    else:
        metric = F.avg((F.col("pred") == F.col("label")).cast("double"))
    rows = scored.groupBy("split").agg(metric.alias("m")).collect()
    return {r["split"]: r["m"] for r in rows}

def assemble_training_frame(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    seed: int = 42,
    neighbor_budget: int | None = None,
    task: str = "classification",
) -> tuple[DataFrame, dict]:
    """One declarative plan: graph build → neighbor aggregation onto the
    target table → train-split standardization → factorized label +
    split. Returns ``(frame, meta)`` where frame has
    ``(node_id, code, nums array<double>, label, split)`` and meta
    carries cardinalities and feature names.

    ``task="regression"``: the label is the target column cast to
    double and standardized with TRAIN-split mean/std (recorded in
    ``meta["y_mean"]/["y_std"]`` for de-normalizing predictions), NULL
    labels dropped; the target column is excluded from the features
    (leakage guard).

    Standardization stats come from exact decimal folds over the TRAIN
    split only (no test leakage) — deterministic under partitioning, so
    the whole downstream trajectory is too. The same pass checks the
    root code: ``cat_col`` cast to int indexes the embedding table, so
    a NULL or negative code raises ``ValueError``.

    ``neighbor_budget``: cap each root's receptive field at ≤k sampled
    src rows per edge type — the reference ``HGTLoader`` fan-out budget
    (``experiments/blueprint_mlflow.py:119-133``). The per-root
    subgraphs the reference materializes one sample at a time
    (``data/dataset.py:249-258`` re-runs BFS per row;
    :func:`~..operators.bfs.bfs_expand_per_root` is this engine's
    row-level twin) are computed here for EVERY root in one fused
    scan-sample-aggregate plan — the Spark-first form of the loader."""
    target_table, target_col = target
    if task == "regression":
        num_cols = tuple(c for c in num_cols if c != target_col)
    g = build_hetero_graph(tables, primary_keys, foreign_keys, add_reverse=False)

    nodes = g.nodes[target_table]
    feats = nodes.select("node_id", F.col(cat_col).cast("int").alias("code"), *num_cols)
    feat_names = list(num_cols)
    for et, edges in g.edges.items():
        src_t, dst_t = g.edge_meta[et]
        if dst_t != target_table or et.startswith(("self_", "rev_")):
            continue
        numeric = [
            c
            for c, t in g.nodes[src_t].dtypes
            if t in ("double", "float") and c != "node_id"
        ]
        if not numeric:
            continue
        agg = g.aggregate_along_edge(
            et,
            numeric[:1],
            ["mean", "sum"],
            prefix=f"{et}__",
            neighbor_budget=neighbor_budget,
            budget_seed=seed,
        )
        agg_cols = [c for c in agg.columns if c != "dst"]
        feats = feats.join(
            agg.withColumnRenamed("dst", "node_id"), "node_id", "left"
        ).na.fill(0.0, subset=agg_cols)
        feat_names += agg_cols

    if task == "regression":
        labeled = (
            nodes.select("node_id", F.col(target_col).cast("double").alias("label"))
            .filter(F.col("label").isNotNull())
        )
    else:
        labeled = factorize_target(
            nodes.select("node_id", target_col), target_col
        ).select("node_id", "label")
    frame = feats.join(labeled, "node_id", "inner")
    frame = random_node_split(frame, fractions=(0.7, 0.0, 0.3), seed=seed)
    # the assembly join chain (graph build + per-edge aggregations) is
    # consumed by the stats pass, every epoch, and the final accuracy
    # pass — materialize it ONCE; checkpoint blocks are GC-reclaimed
    frame = cut_lineage(frame, eager=True)

    # ONE driver action: train-split standardization sums (exact
    # decimal) + the code/label cardinalities + the code range check
    train_only = F.col("split") == "train"
    aggs = [
        F.count(F.when(train_only, 1)).alias("n"),
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
        F.count(F.when(F.col("code").isNull(), 1)).alias("null_codes"),
        F.max("label").alias("max_label"),
    ]
    if task == "regression":
        aggs.append(
            F.sum(F.when(train_only, F.col("label")).cast(DECIMAL_TYPE)).alias("s_y")
        )
        aggs.append(
            F.sum(
                F.when(train_only, F.col("label") * F.col("label")).cast(DECIMAL_TYPE)
            ).alias("q_y")
        )
    for c in feat_names:
        aggs.append(
            F.sum(F.when(train_only, F.col(c)).cast(DECIMAL_TYPE)).alias(f"s_{c}")
        )
        aggs.append(
            F.sum(F.when(train_only, F.col(c) * F.col(c)).cast(DECIMAL_TYPE)).alias(
                f"q_{c}"
            )
        )
    st = frame.agg(*aggs).first()
    # the code indexes the embedding table inside the Arrow kernels: a
    # negative code would silently wrap to the table's last rows, and a
    # NULL one fails there as an opaque IndexError
    if st["null_codes"] or (st["min_code"] is not None and st["min_code"] < 0):
        raise ValueError(
            f"assemble_training_frame: cat_col {cat_col!r} must be a "
            f"non-negative integer code on every root row ("
            f"{st['null_codes']} NULL, min {st['min_code']})"
        )
    n = st["n"]
    if not n:
        raise ValueError(
            "assemble_training_frame: the train split is empty "
            "(check split fractions / input size) — cannot standardize"
        )
    means, stds = {}, {}
    for c in feat_names:
        mu = float(st[f"s_{c}"]) / n
        var = max(float(st[f"q_{c}"]) / n - mu * mu, 1e-12)
        means[c], stds[c] = mu, var**0.5
    nums = F.array(
        *[(F.col(c) - F.lit(means[c])) / F.lit(stds[c]) for c in feat_names]
    )
    label_col = F.col("label")
    y_mean = y_std = None
    if task == "regression":
        y_mean = float(st["s_y"]) / n
        y_std = max(float(st["q_y"]) / n - y_mean * y_mean, 1e-12) ** 0.5
        label_col = (F.col("label") - F.lit(y_mean)) / F.lit(y_std)
    frame = frame.select(
        "node_id", "code", nums.alias("nums"), label_col.alias("label"), "split"
    )

    n_codes = st["max_code"] + 1
    n_classes = 1 if task == "regression" else int(st["max_label"]) + 1
    meta = {
        "n_codes": int(n_codes),
        "n_classes": int(n_classes),
        "n_num": len(feat_names),
        "feat_names": feat_names,
        "means": means,
        "stds": stds,
        "y_mean": y_mean,
        "y_std": y_std,
    }
    return frame, meta


def _sgd_head(
    frame: DataFrame,
    meta: dict,
    dim: int,
    epochs: int,
    n_batches: int,
    lr: float,
    l2: float,
    seed: int,
    task: str,
) -> TrainResult:
    """The one SGD loop behind the three 1-layer trainers: seeded init,
    the train split persisted with its portable-hash batch id, one
    :func:`_gradient_pass` job per step, a float64 driver update, and
    one per-split evaluation (accuracy, or MSE for regression).

    Train roots go to ``n_batches`` by the portable Knuth hash of their
    node id — deterministic on any engine and partitioning (a
    ``rand()`` batcher would reshuffle rows between runs). With
    ``n_batches=1`` the single batch is the whole train split, so each
    step is a full-batch gradient-descent epoch.

    Per-step loss = batch mean loss + the L2 term at the step-start
    parameters."""
    import numpy as np

    from ..functions.hashing import knuth_hash

    k = meta["n_classes"]
    m = meta["n_num"]
    card = meta["n_codes"]
    rng = np.random.default_rng(seed)
    emb = rng.uniform(-0.5, 0.5, size=(card, dim))
    W = rng.uniform(-0.5, 0.5, size=(dim + m, k)) * 0.1
    b = np.zeros(k)

    train = (
        frame.filter(F.col("split") == "train")
        .select(
            (knuth_hash(F.col("node_id"), seed + 7) % n_batches).alias("batch"),
            "code",
            "nums",
            "label",
        )
    )
    sc = train.sparkSession.sparkContext
    parts = max(1, min(sc.defaultParallelism, 8))
    train = train.repartition(parts).persist()
    try:
        batch_sizes = {
            r["batch"]: r["count"] for r in train.groupBy("batch").count().collect()
        }
        # an empty batch shows up as a MISSING key (groupBy never emits
        # a 0-count row), so presence of every batch id is the check
        if set(batch_sizes) != set(range(n_batches)):
            raise ValueError(
                f"a training batch is empty (sizes={batch_sizes}) — "
                "lower n_batches or grow the input"
            )

        losses: list[float] = []
        for _ in range(epochs):
            for bi in range(n_batches):
                n_b = batch_sizes[bi]
                E, Wc, bc = emb.copy(), W.copy(), b.copy()
                loss_sum, resid_tot, GW, resid_by_code = _gradient_pass(
                    train.filter(F.col("batch") == bi).select(
                        "code", "nums", "label"
                    ),
                    E, Wc, bc, dim, m, k, card, task=task,
                )
                loss = loss_sum / n_b + 0.5 * l2 * (
                    float((W * W).sum()) + float((emb * emb).sum())
                )
                losses.append(loss)
                # update: decoder, bias, and the embedding code table
                # (join-apply-update: dE[c] = Σ_{rows with code c} resid ·
                # Wᵀ), normalized by the BATCH size. All three gradients
                # use the STEP-START weights (Wc — the same copy the
                # forward pass saw): mixing the already-updated W into dE
                # would make the step not-the-gradient of the stated
                # objective and can break monotone descent.
                emb -= lr * (resid_by_code @ Wc[:dim].T / n_b + l2 * emb)
                W -= lr * (GW / n_b + l2 * W)
                b -= lr * resid_tot / n_b

        pred = head_pred_udf(
            lambda code, nums: row_logits(design_rows(emb, code, nums), W, b),
            task, "code", "nums",
        )
        metric = split_metric(
            frame.select("split", "label", pred.alias("pred")), task
        )
    finally:
        # a failed step must not leak the pinned frame
        train.unpersist()
    return TrainResult(
        losses=losses,
        accuracy=metric,
        params={"emb": emb, "W": W, "b": b},
    )


def train_relational_classifier(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    dim: int = 4,
    epochs: int = 10,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
) -> TrainResult:
    """N20/N21/N24 trainable path: full-batch gradient descent on
    softmax cross-entropy over [cat-embedding ++ standardized numeric
    aggregates], with the embedding table AND the linear decoder both
    learned — :func:`_sgd_head` with one batch. See the module
    docstring for the driver/Spark split.

    Determinism contract: parameter init is seeded numpy; per-epoch
    gradient sums are exact decimal folds (partitioning-independent);
    updates are float64 on the driver — the loss trajectory is
    bit-reproducible, strictly decreasing at this lr on the bench data,
    and oracle-checked (``plans/train_oracle.py:_sgd_losses``).
    """
    frame, meta = assemble_training_frame(
        tables, primary_keys, foreign_keys, target, cat_col, num_cols, seed=seed
    )
    return _sgd_head(
        frame, meta, dim, epochs, 1, lr, l2, seed, task="classification"
    )


def train_relational_minibatch(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    dim: int = 4,
    epochs: int = 4,
    n_batches: int = 2,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = None,
) -> TrainResult:
    """The reference's actual training loop shape: minibatch SGD over
    per-root sampled subgraphs (``HGTLoader(num_samples=[50]*L)`` +
    batched seed nodes, ``experiments/blueprint_mlflow.py:119-133``),
    re-expressed Spark-first.

    - **Per-root subgraphs**: ``neighbor_budget`` caps each root's
      receptive field with the deterministic per-dst sample inside the
      fused assembly plan — every root's bounded subgraph aggregate is
      computed in ONE scan-sample-aggregate job, where the reference
      re-runs BFS per sample row (``data/dataset.py:249-258``;
      :func:`~..operators.bfs.bfs_expand_per_root` is the row-level
      twin of the subgraphs this samples features from).
    - **Minibatches**: :func:`_sgd_head` over ``n_batches``
      portable-hash batches. Each step is one Spark job over that
      batch's slice of the persisted frame, with exact decimal folds,
      so the whole SGD trajectory (losses at every STEP, final
      parameters) is bit-reproducible and oracle-checkable
      (``plans/train_oracle.py``).

    Per-step loss = batch mean cross-entropy + the L2 term at the
    step-start parameters (SGD semantics: not monotone per step, but
    descending in trend). Scale note: at cluster scale write the
    assembled frame bucketed by ``batch`` so each step's filter prunes
    to its own files instead of scanning all batches.
    """
    frame, meta = assemble_training_frame(
        tables,
        primary_keys,
        foreign_keys,
        target,
        cat_col,
        num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
    )
    return _sgd_head(
        frame, meta, dim, epochs, n_batches, lr, l2, seed, task="classification"
    )


def train_relational_regressor(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str] = ("customer", "c_acctbal"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = (),
    dim: int = 4,
    epochs: int = 8,
    lr: float = 0.2,
    l2: float = 1e-4,
    seed: int = 42,
) -> TrainResult:
    """The reference's REGRESSION task branch
    (``TaskType.REGRESSION`` → ``MSELoss``,
    ``nn/lightning/lightning_wrapper.py:40,50-55``): full-batch
    gradient descent (:func:`_sgd_head` with one batch) on
    half-squared error over [cat-embedding ++ standardized numeric
    aggregates] with a k=1 linear head, predicting a numeric column of
    the target table from its relational neighborhood. The label is
    train-standardized (``params["y_mean"]/["y_std"]`` de-normalize).
    Same determinism contract as the classifier: seeded init, exact
    decimal gradient folds, float64 driver updates — the per-epoch
    loss trajectory is bit-reproducible and oracle-checked
    (``plans/train_oracle.py:_sgd_losses``).
    ``TrainResult.accuracy`` carries per-split MSE (standardized
    space)."""
    frame, meta = assemble_training_frame(
        tables,
        primary_keys,
        foreign_keys,
        target,
        cat_col,
        num_cols,
        seed=seed,
        task="regression",
    )
    res = _sgd_head(frame, meta, dim, epochs, 1, lr, l2, seed, task="regression")
    res.params.update(y_mean=meta["y_mean"], y_std=meta["y_std"])
    return res


# ------------------------------------------------- two-layer training
#
# The reference backprops through L STACKED conv layers + embedders
# (nn/models/blueprint.py:24-214, trained end-to-end by lightning).
# The trainers above run one SGD loop (_sgd_head) over a 1-layer head
# on blueprint-assembled features; the stack trainer (plans/stack.py)
# closes that gap with a
# genuinely deep model whose EVERY weight matrix and embedding table
# is trained in-engine, over ANY FK edges declared as EdgeLayerSpec
# rows. For the default customer←orders spec at depth 2:
#
#   layer 1 (orders):   h_o   = tanh([emb1[code_o] ++ x_o] @ W1 + b1)
#   aggregate (edge):   hbar_c = mean_{o in N(c)} h_o     (decimal fold)
#   layer 2 (head):     logits_c = [emb[code_c] ++ nums_c ++ hbar_c] @ W2 + b2
#
# train_relational_two_layer below is the API-stable wrapper running
# that spec through the stack; two_layer_head_step stays here because
# the engine AND the oracle twin share it (the row_logits precedent).

TWO_LAYER_BENCH_CONFIG = {
    "epochs": 3,
    "n_batches": 2,
    "neighbor_budget": 5,
    "d1": 4,
}


def two_layer_head_step(
    codes, nums, hbar, y, emb, W1, W2, b2, l2, extra_l2=0.0, task="classification"
):
    """Head forward/backward over ONE collected batch (pure numpy;
    shared with the oracle twin like :func:`row_logits`, so both sides
    run the identical IEEE expression sequence). Returns
    ``(loss, GW2, gb2, demb, gH)`` — raw gradient SUMS (unnormalized);
    ``loss`` is the batch-mean loss plus the L2 term at the step-start
    parameters (``extra_l2`` carries squared norms of parameters the
    head does not see, e.g. the layer embedding tables); ``gH`` is
    dL/dhbar per root (row order = input order). ``task``:
    ``"classification"`` (softmax cross-entropy over k classes, int
    labels) or ``"regression"`` (k=1 linear head, half-squared error,
    standardized double labels — the same MSELoss-branch convention as
    :func:`train_relational_regressor`)."""
    import numpy as np

    dim = emb.shape[1]
    m = nums.shape[1]
    X = np.concatenate([emb[codes], nums, hbar], axis=1)
    l2_term = 0.5 * l2 * (
        float((emb * emb).sum())
        + float((W1 * W1).sum())
        + float((W2 * W2).sum())
        + float(extra_l2)
    )
    loss_rows, resid = head_loss(X @ W2 + b2, y, task)
    loss = float(loss_rows.sum()) / len(codes) + l2_term
    GW2 = X.T @ resid
    gb2 = resid.sum(axis=0)
    demb = np.zeros_like(emb)
    np.add.at(demb, codes, resid @ W2[:dim].T)
    gH = resid @ W2[dim + m :].T
    return loss, GW2, gb2, demb, gH


def train_relational_two_layer(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str] = ("customer", "c_mktsegment"),
    cat_col: str = "c_nationkey",
    num_cols: tuple[str, ...] = ("c_acctbal",),
    dim: int = 4,
    d1: int = 4,
    epochs: int = 3,
    n_batches: int = 2,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    task: str = "classification",
) -> TrainResult:
    """Minibatch SGD through TWO stacked layers — the in-engine analog
    of the reference's end-to-end blueprint backprop
    (``nn/models/blueprint.py:24-214``) at depth 2. API-stable wrapper:
    runs :func:`~.stack.train_relational_stack` with the
    customer←orders :data:`~.stack.ORDERS_LAYER_SPEC` (o_orderstatus
    embedder + [o_totalprice, lineitem-quantity decimal-fold mean]
    features — a genuine 2-hop receptive field) and maps the stack's
    parameter dict back to the original ``emb1/W1/b1/W2/b2`` names.

    Determinism contract (the same one the 1-layer trainers hold):
    seeded init; layer-1 forward emits decimal-quantized components so
    ``hbar`` is an exact per-root fold; the head runs driver-side numpy
    over the batch rows in node-id order; the W1 gradient is a global
    decimal fold. Every step's loss — and every parameter — is
    bit-reproducible and recomputed by the independent twin
    (``plans/train_oracle.py:_two_layer_losses``). Scale posture
    (broadcast semi-join batching, joined-hbar eval) is the stack's —
    see ``plans/stack.py``."""
    from dataclasses import replace

    from .stack import ORDERS_LAYER_SPEC, train_relational_stack

    spec = replace(
        ORDERS_LAYER_SPEC, hidden_dim=d1, neighbor_budget=neighbor_budget
    )
    res = train_relational_stack(
        tables,
        primary_keys,
        foreign_keys,
        layers=(spec,),
        target=target,
        cat_col=cat_col,
        num_cols=num_cols,
        dim=dim,
        epochs=epochs,
        n_batches=n_batches,
        lr=lr,
        l2=l2,
        seed=seed,
        neighbor_budget=neighbor_budget,
        task=task,
    )
    layer = res.params["layers"][0]
    return TrainResult(
        losses=res.losses,
        accuracy=res.accuracy,
        params={
            "emb": res.params["emb"],
            "emb1": layer["emb"],
            "W1": layer["W"],
            "b1": layer["b"],
            "W2": res.params["W_head"],
            "b2": res.params["b_head"],
        },
    )
