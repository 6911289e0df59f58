"""Independent oracle twin of :mod:`.training` — numpy + Python
``decimal`` over DuckDB-read parquet, no Spark.

The driver's correctness gate wants a DuckDB-checkable answer for
``train_relational``, but gradient descent is iterative — not
expressible as one SQL query. The trajectory IS bit-deterministic by
construction (seeded init, per-row float64 kernels, exact decimal
gradient folds — see ``training.py``'s determinism contract), so the
oracle RECOMPUTES it from the raw parquet with an independent
implementation (DuckDB SQL for the relational assembly, numpy for the
per-row math, ``decimal.Decimal`` for the folds) and pins the result as
a ``VALUES`` literal. Run at oracle-build time, it tracks whatever data
the driver regenerates; nothing is copied from the Spark run.

Engine-parity notes (why bit-equality holds):

- Spark's ``cast(double AS DECIMAL(30,9))`` rounds the double's
  shortest decimal representation (``BigDecimal.valueOf`` =
  ``Double.toString``) HALF_UP to scale 9. Python's ``repr`` produces
  the same shortest round-trip string, so
  ``Decimal(repr(x)).quantize(1e-9, ROUND_HALF_UP)`` is the exact twin
  (:func:`_dec9`).
- Decimal addition is exact and associative → any grouping/order gives
  the same sums (the whole point of ``functions/exact_agg``).
- ``float(Decimal)`` and BigDecimal→double are both correctly rounded.
- Every float64 step (standardization, forward/backward kernel,
  parameter updates) is per-row/per-element IEEE arithmetic with no
  order-dependent reduction — identical in the JVM, the Arrow UDF's
  numpy, and this twin's numpy.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

DEFAULT_SF_DIR = "/root/testdata/sf0.01"
_Q9 = Decimal("1.000000000")


def _dec9(x: float) -> Decimal:
    """Twin of Spark's ``cast(double AS DECIMAL(30,9))`` (HALF_UP on the
    shortest decimal representation). Same domain as the engine's
    ``training._dec9_py``: NaN, ±inf and ``|x| >= 1e19`` raise
    ``ArithmeticError``."""
    x = float(x)
    if not -1e19 < x < 1e19:
        raise ArithmeticError(
            f"dec9 cannot quantize {x!r}: |x| must be finite and below 1e+19"
        )
    return Decimal(repr(x)).quantize(_Q9, rounding=ROUND_HALF_UP)


def _knuth(key: int, seed: int = 42, p: int = 2147483647, k: int = 2654435761) -> int:
    """Twin of ``functions.hashing.knuth_hash``."""
    return ((key % p + p) % p + seed) * k % p


def _knuth_bucket(key: int, seed: int = 42) -> int:
    """Twin of ``functions.hashing.bucket`` (mod 10_000)."""
    return _knuth(key, seed) % 10_000


def _assemble(
    sf_dir: str,
    seed: int = 42,
    neighbor_budget: int | None = None,
    task: str = "classification",
):
    """The relational half of the twin — replays
    ``plans.training.assemble_training_frame`` (default target/feature
    config; ``task="regression"`` is the c_acctbal-label variant) from
    the parquet tables. Returns
    ``(node_ids, codes_a, y_a, X_num_standardized, train_mask)``;
    ``y_a`` is train-standardized double for regression."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    cust = con.execute(
        f"SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM read_parquet('{sf_dir}/customer.parquet') ORDER BY c_custkey"
    ).fetchall()
    # per-customer edge aggregates, exact decimal folds like
    # HeteroGraph.aggregate_along_edge's fused plan (mean = decimal sum
    # cast to double / count; degree = group size); customers without
    # edges get the frame's na.fill(0.0). With ``neighbor_budget``, the
    # per-dst sample twin: order group rows by
    # (knuth_hash(src_pk, seed), src_pk), keep the first k — exactly
    # ``operators.sampling.sample_neighbors`` inside the fused plan.
    def edge_aggs(
        table: str, src_pk: str, fk: str, col: str
    ) -> dict[int, tuple[float, float, int]]:
        rows = con.execute(
            f"SELECT {src_pk}, {fk}, {col} "
            f"FROM read_parquet('{sf_dir}/{table}.parquet') "
            f"WHERE {fk} IS NOT NULL"
        ).fetchall()
        groups: dict[int, list[tuple[int, float]]] = {}
        for spk, kkey, v in rows:
            groups.setdefault(kkey, []).append((spk, v))
        out: dict[int, tuple[float, float, int]] = {}
        for kkey, g in groups.items():
            if neighbor_budget is not None:
                g = sorted(g, key=lambda sv: (_knuth(sv[0], seed), sv[0]))
                g = g[:neighbor_budget]
            s = Decimal(0)
            for _, v in g:
                s += _dec9(v)
            out[kkey] = (float(s) / len(g), float(s), len(g))
        return out

    ords = edge_aggs("orders", "o_orderkey", "o_custkey", "o_totalprice")
    evs = edge_aggs("events", "event_id", "user_id", "value")

    labels_sorted = sorted({r[3] for r in cust if r[3] is not None})
    label_code = {v: i for i, v in enumerate(labels_sorted)}

    # raw feature matrix in assemble_training_frame's feat_names order.
    # classification: [c_acctbal, orders mean/sum/degree, events
    # mean/sum/degree], label = factorized c_mktsegment (seg-NULL rows
    # drop). regression: c_acctbal becomes the LABEL (leakage guard
    # drops it from the features; bal-NULL rows drop instead).
    node_ids, codes, labels, raw = [], [], [], []
    for ck, nk, bal, seg in cust:
        if task == "regression":
            if bal is None:
                continue
            label_val = float(bal)
        else:
            if seg is None:
                continue
            label_val = label_code[seg]
        o = ords.get(ck, (0.0, 0.0, 0))
        e = evs.get(ck, (0.0, 0.0, 0))
        node_ids.append(ck)
        codes.append(nk)
        labels.append(label_val)
        feats = [o[0], o[1], float(o[2]), e[0], e[1], float(e[2])]
        raw.append(feats if task == "regression" else [bal] + feats)

    split_train = [(_knuth_bucket(i, seed) < 7000) for i in node_ids]
    n = sum(split_train)
    if n == 0:
        raise ValueError("empty train split")

    def train_stats(vals) -> tuple[float, float]:
        s = Decimal(0)
        q = Decimal(0)
        for i, v in enumerate(vals):
            if split_train[i]:
                s += _dec9(v)
                q += _dec9(v * v)
        mu = float(s) / n
        var = max(float(q) / n - mu * mu, 1e-12)
        return mu, var**0.5

    m = len(raw[0])
    X_num = np.array(raw, dtype=np.float64)
    for j in range(m):
        mu, sd = train_stats([r[j] for r in raw])
        X_num[:, j] = (X_num[:, j] - mu) / sd

    codes_a = np.array(codes, dtype=np.int64)
    if task == "regression":
        y_mu, y_sd = train_stats(labels)
        y_a = (np.array(labels, dtype=np.float64) - y_mu) / y_sd
    else:
        y_a = np.array(labels, dtype=np.int64)
    train_mask = np.array(split_train)
    return node_ids, codes_a, y_a, X_num, train_mask


def _grad_fold(rows, glen: int) -> list[Decimal]:
    """The twins' one decimal row fold — the replay of
    ``training.fold_dec9``: sum each component of the per-row float
    vectors as dec9 decimals, in row order (order-free: decimal
    addition is exact and associative). Returns the ``glen`` exact
    ``Decimal`` sums; a caller that needs per-code sums (the engine's
    ``by="code"`` fold) folds each code's rows and adds the results."""
    tot = [Decimal(0)] * glen
    for row in rows:
        for i in range(glen):
            tot[i] += _dec9(row[i])
    return tot


def _sgd_losses(
    sf_dir: str,
    epochs: int = 8,
    n_batches: int = 1,
    lr: float = 0.5,
    seed: int = 42,
    neighbor_budget: int | None = None,
    task: str = "classification",
) -> list[float]:
    """Replays ``plans.training._sgd_head``, the one SGD loop behind the
    three 1-layer trainers (default target/feature config, as called by
    ``q_train_relational``): the relational assembly, portable-hash
    batch assignment, per-step decimal gradient folds and the driver
    update. ``n_batches=1`` is full-batch gradient descent
    (``train_relational_classifier``; with ``task="regression"``,
    ``train_relational_regressor`` on the c_acctbal label); more
    batches over the budgeted assembly is
    ``train_relational_minibatch``. Returns the per-step losses."""
    import numpy as np

    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    m = X_num.shape[1]
    card = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    dim, l2 = 4, 1e-4
    rng = np.random.default_rng(seed)
    emb = rng.uniform(-0.5, 0.5, size=(card, dim))
    W = rng.uniform(-0.5, 0.5, size=(dim + m, k)) * 0.1
    b = np.zeros(k)

    batch_of = np.array(
        [_knuth(int(i), seed + 7) % n_batches for i in node_ids], dtype=np.int64
    )
    glen = 1 + k + (dim + m) * k
    losses: list[float] = []
    for _ in range(epochs):
        for bi in range(n_batches):
            sel = train_mask & (batch_of == bi)
            n_b = int(sel.sum())
            E, Wc, bc = emb.copy(), W.copy(), b.copy()
            tot, resid_by_code = _step_gradients(
                codes_a[sel], X_num[sel], y_a[sel], E, Wc, bc, glen, k, card,
                task,
            )
            losses.append(
                float(tot[0]) / n_b
                + 0.5 * l2 * (float((W * W).sum()) + float((emb * emb).sum()))
            )
            resid_tot = np.array([float(tot[1 + j]) for j in range(k)])
            GW = np.array(
                [float(tot[1 + k + i]) for i in range((dim + m) * k)]
            ).reshape(dim + m, k)
            emb -= lr * (resid_by_code @ Wc[:dim].T / n_b + l2 * emb)
            W -= lr * (GW / n_b + l2 * W)
            b -= lr * resid_tot / n_b
    return losses


def _step_gradients(tr_codes, tr_nums, tr_y, E, Wc, bc, glen, k, card, task):
    """Forward/backward over one row set + decimal folds — the numpy
    twin of ``training._gradient_pass`` on those rows: softmax
    cross-entropy (classification) or half-squared error on a k=1
    linear output (regression)."""
    import numpy as np

    from .training import row_logits

    X = np.concatenate([E[tr_codes], tr_nums], axis=1)
    nrows = len(tr_codes)
    if task == "regression":
        r = row_logits(X, Wc, bc)[:, 0] - tr_y
        loss_rows = 0.5 * r * r
        resid = r[:, None]
    else:
        logits = row_logits(X, Wc, bc)
        logits -= logits.max(axis=1, keepdims=True)
        ex = np.exp(logits)
        P = ex / ex.sum(axis=1, keepdims=True)
        rows_idx = np.arange(nrows)
        loss_rows = -np.log(P[rows_idx, tr_y])
        resid = P.copy()
        resid[rows_idx, tr_y] -= 1.0
    gw = (X[:, :, None] * resid[:, None, :]).reshape(nrows, -1)
    g = np.concatenate([loss_rows[:, None], resid, gw], axis=1)
    tot = [Decimal(0)] * glen
    resid_by_code = np.zeros((card, k))
    for c in np.unique(tr_codes):
        sums = _grad_fold(g[tr_codes == c], glen)
        tot = [t + v for t, v in zip(tot, sums)]
        resid_by_code[int(c)] = [float(v) for v in sums[1 : 1 + k]]
    return tot, resid_by_code


def _tabnet_head_losses(
    sf_dir: str,
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
) -> list[float]:
    """Twin of ``plans.tabnet_head.train_tabnet_head``: DuckDB-assembled
    root frame (:func:`_assemble`), the SHARED fixed-order
    ``tabnet_forward`` kernel (frozen seeded encoder — the
    ``row_logits`` precedent), then an independent numpy/decimal replay
    of the decision-head GD: per-row dec9-quantized gradients summed as
    exact decimals in row order (order-free), the same update
    expressions — every epoch's loss bit-equal to the engine's."""
    import numpy as np

    from ..operators.kernels import tabnet_forward

    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    card = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    onehot = np.zeros((len(codes_a), card))
    onehot[np.arange(len(codes_a)), codes_a] = 1.0
    feats = np.concatenate([onehot, X_num], axis=1)
    tr = np.where(train_mask)[0]
    X = tabnet_forward(
        feats[tr], out_channels, num_layers, feat_channels, attn_channels,
        seed=seed,
    )
    return _head_gd_losses(X, y_a[tr], k, epochs, lr, l2, seed, task=task)


def _head_gd_losses(X, y, k, epochs, lr, l2, seed, task="classification") -> list[float]:
    """Independent replay of ``plans.tabnet_head._fit_linear_head``'s
    GD: per-row dec9-quantized gradients summed as exact decimals in
    row order (order-free), the same update expressions — shared by
    the TabNet and Trompt head twins. ``task="regression"`` replays
    the k=1 half-squared-error branch."""
    import numpy as np

    from .training import row_logits

    n, d = X.shape
    glen = 1 + d * k + k
    rng = np.random.default_rng(seed)
    W = rng.uniform(-0.5, 0.5, size=(d, k)) * 0.1
    b = np.zeros(k)
    losses: list[float] = []
    for _ in range(epochs):
        if task == "regression":
            pred = row_logits(X, W, b)[:, 0]
            r = pred - y
            loss_rows = 0.5 * r * r
            resid = r[:, None]
        else:
            logits = row_logits(X, W, b)
            logits = logits - logits.max(axis=1, keepdims=True)
            ex = np.exp(logits)
            P = ex / ex.sum(axis=1, keepdims=True)
            ridx = np.arange(n)
            loss_rows = -np.log(P[ridx, y])
            resid = P.copy()
            resid[ridx, y] -= 1.0
        out = np.concatenate(
            [
                loss_rows[:, None],
                (X[:, :, None] * resid[:, None, :]).reshape(n, -1),
                resid,
            ],
            axis=1,
        )
        tot = _grad_fold(out, glen)
        loss_sum = float(tot[0])
        GW = np.array([float(tot[1 + i]) for i in range(d * k)]).reshape(d, k)
        gb = np.array([float(tot[1 + d * k + i]) for i in range(k)])
        losses.append(loss_sum / n + 0.5 * l2 * float((W * W).sum()))
        W -= lr * (GW / n + l2 * W)
        b -= lr * (gb / n)
    return losses


def _trompt_head_losses(
    sf_dir: str,
    epochs: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
    task: str = "classification",
) -> list[float]:
    """Twin of ``plans.tabnet_head.train_trompt_head``: DuckDB root
    assembly, the SHARED per-row ``trompt_root_encoding_rows`` kernel
    (frozen seeded prompt bank — row-shape matmuls, batch-independent),
    then the shared head-GD replay."""
    import numpy as np

    from .tabnet_head import trompt_root_encoding_rows

    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    card = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    tr = np.where(train_mask)[0]
    X = trompt_root_encoding_rows(
        codes_a[tr], X_num[tr], card, ch, num_prompts, num_layers, seed
    )
    return _head_gd_losses(X, y_a[tr], k, epochs, lr, l2, seed, task=task)


def _tabnet_full_losses(
    sf_dir: str,
    epochs: int = 3,
    lr: float = 0.1,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    out_channels: int = 8,
    num_layers: int = 2,
    feat_channels: int = 8,
    attn_channels: int = 8,
    task: str = "classification",
) -> list[float]:
    """Twin of ``plans.tabnet_full.train_tabnet_full``: DuckDB root
    assembly, the SHARED forward/backward kernels (the ``row_logits``
    precedent — fixed-order GEMMs make every per-row gradient
    batch-independent, so computing them here over the full training
    set in ONE numpy batch reproduces the engine's Arrow-split values
    exactly), then an independent decimal replay of the fold and the
    SGD updates — every epoch's loss bit-equal to the engine's."""
    import numpy as np

    from .tabnet_full import (
        l2_term,
        sgd_step,
        tabnet_full_row_grads,
        tabnet_param_specs,
        tabnet_seed_params,
    )

    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    card = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    onehot = np.zeros((len(codes_a), card))
    onehot[np.arange(len(codes_a)), codes_a] = 1.0
    feats = np.concatenate([onehot, X_num], axis=1)
    tr = np.where(train_mask)[0]
    X, y = feats[tr], y_a[tr]
    n, in_ch = X.shape
    fc, ac = feat_channels, attn_channels
    specs = tabnet_param_specs(in_ch, num_layers, fc, ac, out_channels, k)
    p = tabnet_seed_params(in_ch, num_layers, fc, ac, out_channels, k, seed)
    glen = 1 + sum(int(np.prod(s)) for _n, s, _b in specs)
    losses: list[float] = []
    for _ in range(epochs):
        rows = tabnet_full_row_grads(
            X, y, p, num_layers, fc, ac, k, task=task
        )
        flat = np.array([float(t) for t in _grad_fold(rows, glen)])
        losses.append(flat[0] / n + 0.5 * l2 * l2_term(p, specs))
        sgd_step(p, specs, flat, n, lr, l2)
    return losses


def _trompt_full_losses(
    sf_dir: str,
    epochs: int = 3,
    lr: float = 0.2,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
    task: str = "classification",
) -> list[float]:
    """Twin of ``plans.tabnet_full.train_trompt_full``: DuckDB root
    assembly, the SHARED per-row forward/backward kernels, then an
    independent decimal replay of the fold and the SGD updates."""
    import numpy as np

    from .tabnet_full import (
        l2_term,
        sgd_step,
        trompt_full_row_grads,
        trompt_param_specs,
        trompt_seed_params,
    )
    from .tabnet_head import trompt_column_embedder

    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    card = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    tr = np.where(train_mask)[0]
    n = len(tr)
    # the frozen column embeddings are parameter-independent
    embed = trompt_column_embedder(card, X_num.shape[1], ch, seed)
    ms = [embed(codes_a[i], X_num[i]) for i in tr]
    ys = [
        float(y_a[i]) if task == "regression" else int(y_a[i]) for i in tr
    ]
    specs = trompt_param_specs(ch, num_prompts, num_layers, k)
    p = trompt_seed_params(ch, num_prompts, num_layers, k, seed)
    glen = 1 + sum(int(np.prod(s)) for _n, s, _b in specs)
    losses: list[float] = []
    for _ in range(epochs):
        rows = [
            trompt_full_row_grads(
                m, y, p, num_layers, num_prompts, k, task=task
            )
            for m, y in zip(ms, ys)
        ]
        flat = np.array([float(t) for t in _grad_fold(rows, glen)])
        losses.append(flat[0] / n + 0.5 * l2 * l2_term(p, specs))
        sgd_step(p, specs, flat, n, lr, l2)
    return losses


def train_loss_oracle_sql(epochs: int = 8, seed: int = 42) -> str:
    """The ``train_relational`` oracle: recompute all seven loss
    trajectories — full-batch GD, minibatch SGD over budgeted per-root
    subgraphs and regression (all three from the one replay loop
    :func:`_sgd_losses`), the two- and three-layer stacks, and the
    TabNet and Trompt heads — with the independent twins and pin them
    as a VALUES literal (``repr`` doubles round-trip exactly through
    DuckDB's strtod). The data directory defaults to the driver's
    correctness SF; selfcheck overrides via ``SPARK_GRAFT_ORACLE_SF``
    when run at another SF."""
    from .stack import THREE_LAYER_BENCH_CONFIG
    from .tabnet_head import TABNET_HEAD_BENCH_CONFIG, TROMPT_HEAD_BENCH_CONFIG
    from .training import (
        MINIBATCH_BENCH_CONFIG,
        REGRESSION_BENCH_CONFIG,
        TWO_LAYER_BENCH_CONFIG,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    rows = [
        ("full", i, loss)
        for i, loss in enumerate(_sgd_losses(sf_dir, epochs=epochs, seed=seed))
    ] + [
        ("minibatch", i, loss)
        for i, loss in enumerate(
            # the SHARED configs (plans/training.py) — the same dicts
            # q_train_relational unpacks, so the pinned trajectories and
            # the engine runs can never use different hyperparameters
            _sgd_losses(sf_dir, seed=seed, **MINIBATCH_BENCH_CONFIG)
        )
    ] + [
        ("regression", i, loss)
        for i, loss in enumerate(
            _sgd_losses(
                sf_dir, seed=seed, task="regression", **REGRESSION_BENCH_CONFIG
            )
        )
    ] + [
        ("two_layer", i, loss)
        for i, loss in enumerate(
            _two_layer_losses(sf_dir, seed=seed, **TWO_LAYER_BENCH_CONFIG)
        )
    ] + [
        ("three_layer", i, loss)
        for i, loss in enumerate(
            _three_layer_losses(sf_dir, seed=seed, **THREE_LAYER_BENCH_CONFIG)
        )
    ] + [
        ("tabnet", i, loss)
        for i, loss in enumerate(
            _tabnet_head_losses(sf_dir, seed=seed, **TABNET_HEAD_BENCH_CONFIG)
        )
    ] + [
        ("trompt", i, loss)
        for i, loss in enumerate(
            _trompt_head_losses(sf_dir, seed=seed, **TROMPT_HEAD_BENCH_CONFIG)
        )
    ]
    # the double literal goes through VARCHAR: DuckDB parses a bare
    # 17-digit numeric literal as DECIMAL and its decimal→double cast is
    # not correctly rounded (same reason as exact_sum_sql's hop);
    # string→double is strtod, which round-trips repr exactly
    values = ",\n              ".join(
        f"('{mode}', CAST({i} AS INT), CAST('{loss!r}' AS DOUBLE))"
        for mode, i, loss in rows
    )
    return f"""
        SELECT * FROM (VALUES
              {values}
        ) AS t(mode, epoch, train_loss)
    """


def _child_frame_twin(sf_dir: str, spec, seed: int):
    """Twin of ``plans.stack._assemble_child_frame`` for one
    :class:`~.stack.EdgeLayerSpec` (the spec is shared CONFIG, like the
    ``*_BENCH_CONFIG`` dicts; the data path below is independent):
    DuckDB reads the raw parquet, python replays the child_agg decimal
    -fold mean, the knuth budget sample, the global standardization
    folds, and the F12 dict-encode (sorted distinct non-null → 1..n
    over the KEPT rows). Returns ``(by_parent, card)`` with
    ``by_parent[parent_key] = (child_keys list, codes ndarray,
    X ndarray)``."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    means = None
    if spec.child_agg is not None:
        ct, cfk, cc = spec.child_agg
        sums: dict[int, Decimal] = {}
        cnts: dict[int, int] = {}
        for kkey, v in con.execute(
            f"SELECT {cfk}, {cc} FROM read_parquet('{sf_dir}/{ct}.parquet') "
            f"WHERE {cfk} IS NOT NULL"
        ).fetchall():
            if v is None:
                continue
            sums[kkey] = sums.get(kkey, Decimal(0)) + _dec9(v)
            cnts[kkey] = cnts.get(kkey, 0) + 1
        means = {k_: float(s) / cnts[k_] for k_, s in sums.items()}

    key_sel = f"{spec.key}, " if spec.key is not None else ""
    num_sel = ("".join(f", {c}" for c in spec.num_cols))
    rows = con.execute(
        f"SELECT {key_sel}{spec.fk}, {spec.cat_col}{num_sel} "
        f"FROM read_parquet('{sf_dir}/{spec.table}.parquet') "
        f"WHERE {spec.fk} IS NOT NULL"
    ).fetchall()
    groups: dict[int, list[tuple]] = {}
    for r in rows:
        if spec.key is not None:
            ckey, fkv, cat, *nvals = r
        else:
            fkv, cat, *nvals = r
            ckey = None
        feats = [float(v) for v in nvals]
        if means is not None:
            feats.append(means.get(ckey, 0.0))
        groups.setdefault(fkv, []).append((ckey, cat, feats))

    kept: dict[int, list[tuple]] = {}
    all_feats: list[list[float]] = []
    for fkv, g in groups.items():
        if spec.neighbor_budget is not None:
            g = sorted(g, key=lambda r: (_knuth(r[0], seed), r[0]))
            g = g[: spec.neighbor_budget]
        kept[fkv] = g
        all_feats.extend(row[2] for row in g)

    cat_vals = sorted(
        {row[1] for g in kept.values() for row in g if row[1] is not None}
    )
    cat_code = {v: i + 1 for i, v in enumerate(cat_vals)}
    card = len(cat_vals) + 1

    nfeat = len(spec.num_cols) + (1 if spec.child_agg else 0)
    n = len(all_feats)
    stats = []
    for j in range(nfeat):
        s = Decimal(0)
        q = Decimal(0)
        for row in all_feats:
            s += _dec9(row[j])
            q += _dec9(row[j] * row[j])
        mu = float(s) / n
        sd = max(float(q) / n - mu * mu, 1e-12) ** 0.5
        stats.append((mu, sd))

    by_parent = {}
    for fkv, g in kept.items():
        keys = [row[0] for row in g]
        codes = np.array([cat_code.get(row[1], 0) for row in g], dtype=np.int64)
        X = np.array(
            [
                [(row[2][j] - stats[j][0]) / stats[j][1] for j in range(nfeat)]
                for row in g
            ],
            dtype=np.float64,
        )
        by_parent[fkv] = (keys, codes, X)
    return by_parent, card


def _stack_losses(
    sf_dir: str,
    layers,
    epochs: int = 2,
    n_batches: int = 2,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    dim: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    task: str = "classification",
    with_accuracy: bool = False,
):
    """Replays ``plans.stack.train_relational_stack`` for a declared
    layer stack: DuckDB for the relational assembly (the root frame
    via :func:`_assemble` plus one :func:`_child_frame_twin` per
    layer), numpy for the layer math, ``decimal.Decimal`` for the hbar
    and weight folds — every step's loss bit-equal to the engine's.
    The head step and ``row_logits`` are the SAME shared kernels the
    engine runs (the ``row_logits`` precedent); independence lives in
    the data path, which is where engines can disagree.
    ``task="regression"`` replays the k=1 linear-head/half-squared
    -error branch on the standardized c_acctbal label. Returns the
    per-step losses (plus the per-split accuracy/MSE of the trained
    model when ``with_accuracy``)."""
    import numpy as np

    from .training import row_logits, two_layer_head_step

    L = len(layers)
    node_ids, codes_a, y_a, X_num, train_mask = _assemble(
        sf_dir, seed, neighbor_budget=neighbor_budget, task=task
    )
    tr_sel = np.where(train_mask)[0]
    ids = np.array(node_ids, dtype=np.int64)[tr_sel]
    codes = codes_a[tr_sel]
    nums = X_num[tr_sel]
    y = y_a[tr_sel]

    child = []
    cards = []
    for spec in layers:
        by_parent, card_i = _child_frame_twin(sf_dir, spec, seed)
        child.append(by_parent)
        cards.append(card_i)

    batch_of = np.array(
        [_knuth(int(i), seed + 7) % n_batches for i in ids], dtype=np.int64
    )
    card0 = int(codes_a.max()) + 1
    k = 1 if task == "regression" else int(y_a.max()) + 1
    m = nums.shape[1]
    # pinned init-draw order — identical to the engine's: root
    # embedding, every layer's embedding, every layer's W, the head
    rng = np.random.default_rng(seed)
    emb = rng.uniform(-0.5, 0.5, size=(card0, dim))
    l_emb = [
        rng.uniform(-0.5, 0.5, size=(cards[i], layers[i].emb_dim))
        for i in range(L)
    ]
    dims = []
    for i, spec in enumerate(layers):
        d_child = layers[i + 1].hidden_dim if i + 1 < L else 0
        nfeat = len(spec.num_cols) + (1 if spec.child_agg else 0)
        dims.append((spec.emb_dim, nfeat, spec.hidden_dim, spec.emb_dim + nfeat + d_child))
    l_W = [
        rng.uniform(-0.5, 0.5, size=(dims[i][3], dims[i][2])) * 0.1
        for i in range(L)
    ]
    l_b = [np.zeros(dims[i][2]) for i in range(L)]
    d1 = dims[0][2]
    W_head = rng.uniform(-0.5, 0.5, size=(dim + m + d1, k)) * 0.1
    b_head = np.zeros(k)

    def row_forward(i, keys, cvec, X):
        """h rows of level i (UNquantized — the quantization happens
        at the fold, exactly where the engine's UDF applies it)."""
        parts = [l_emb[i][cvec], X]
        if i + 1 < L:
            d_child = dims[i + 1][2]
            chb = np.zeros((len(keys), d_child))
            for r_, key_ in enumerate(keys):
                hv = fold_level(i + 1, key_)
                if hv is not None:
                    chb[r_] = hv[0]
            parts.append(chb)
        Xf = np.concatenate(parts, axis=1)
        return Xf, np.tanh(row_logits(Xf, l_W[i], l_b[i]))

    def fold_level(i, parent_key):
        """(hbar, deg) of level i under ``parent_key`` — the per-parent
        decimal fold of dec9-quantized h components."""
        entry = child[i].get(parent_key)
        if entry is None or not len(entry[0]):
            return None
        keys, cvec, X = entry
        _, H = row_forward(i, keys, cvec, X)
        d = dims[i][2]
        sums = _grad_fold(H, d)
        return np.array([float(sums[jj]) / len(keys) for jj in range(d)]), len(keys)

    losses: list[float] = []
    for _ in range(epochs):
        for bi in range(n_batches):
            sel = batch_of == bi
            bids = ids[sel]
            n_b = int(sel.sum())
            hbar = np.zeros((n_b, d1))
            degs = np.zeros(n_b, dtype=np.int64)
            for j, i_ in enumerate(bids):
                hv = fold_level(0, int(i_))
                if hv is not None:
                    hbar[j], degs[j] = hv
            extra_l2 = float(sum(float((E * E).sum()) for E in l_emb)) + float(
                sum(float((W * W).sum()) for W in l_W[1:])
            )
            loss, GW2, gb2, demb0, gH = two_layer_head_step(
                codes[sel], nums[sel], hbar, y[sel], emb, l_W[0], W_head,
                b_head, l2, extra_l2=extra_l2, task=task,
            )
            losses.append(loss)

            # gradient frames down the stack: {parent_key: (gout, gdeg)}
            g_map = {
                int(i_): (gH[j].copy(), int(degs[j]))
                for j, i_ in enumerate(bids)
                if degs[j] > 0
            }
            grads = []
            for i in range(L):
                d_e, nx, d, m_i = dims[i]
                glen = m_i * d + d
                code_rows: dict[int, list] = {}
                next_g: dict[int, tuple] = {}
                for pk, (gout, gdeg) in g_map.items():
                    entry = child[i].get(pk)
                    if entry is None or not len(entry[0]):
                        continue
                    keys, cvec, X = entry
                    Xf, H = row_forward(i, keys, cvec, X)
                    gvec = gout / float(gdeg)
                    D = gvec * (1.0 - H * H)
                    out = np.concatenate(
                        [(Xf[:, :, None] * D[:, None, :]).reshape(len(Xf), -1), D],
                        axis=1,
                    )
                    for ri, row in enumerate(out):
                        code_rows.setdefault(int(cvec[ri]), []).append(row)
                    if i + 1 < L:
                        WhT = l_W[i][d_e + nx :].T
                        gnext = row_logits(D, WhT, np.zeros(dims[i + 1][2]))
                        for ri, key_ in enumerate(keys):
                            hv = fold_level(i + 1, key_)
                            if hv is not None:
                                next_g[int(key_)] = (gnext[ri].copy(), hv[1])
                tot = [Decimal(0)] * glen
                demb_i = np.zeros((cards[i], d_e))
                for c, rows_c in code_rows.items():
                    ct = _grad_fold(rows_c, glen)
                    tot = [t + v for t, v in zip(tot, ct)]
                    dsum = np.array([float(ct[m_i * d + jj]) for jj in range(d)])
                    demb_i[c] = dsum @ l_W[i][:d_e].T
                dW = np.array([float(tot[ii]) for ii in range(m_i * d)]).reshape(m_i, d)
                db_ = np.array([float(tot[m_i * d + ii]) for ii in range(d)])
                grads.append((dW, db_, demb_i))
                g_map = next_g

            emb -= lr * (demb0 / n_b + l2 * emb)
            W_head -= lr * (GW2 / n_b + l2 * W_head)
            b_head -= lr * (gb2 / n_b)
            for i in range(L):
                dW, db_, demb_i = grads[i]
                l_emb[i] -= lr * (demb_i / n_b + l2 * l_emb[i])
                l_W[i] -= lr * (dW / n_b + l2 * l_W[i])
                l_b[i] -= lr * (db_ / n_b)

    if not with_accuracy:
        return losses
    acc: dict[str, list] = {}
    for idx, nid in enumerate(node_ids):
        hv = fold_level(0, int(nid))
        hvec = hv[0] if hv is not None else np.zeros(d1)
        X = np.concatenate([emb[int(codes_a[idx])], X_num[idx], hvec])
        out = row_logits(X[None, :], W_head, b_head)[0]
        split = "train" if train_mask[idx] else "test"
        if task == "regression":
            err = out[0] - y_a[idx]
            acc.setdefault(split, []).append(_dec9(err * err))
        else:
            pred = int(np.argmax(out))
            acc.setdefault(split, []).append(float(pred == y_a[idx]))
    if task == "regression":
        return losses, {s: float(sum(v)) / len(v) for s, v in acc.items()}
    return losses, {s: sum(v) / len(v) for s, v in acc.items()}


def _two_layer_losses(
    sf_dir: str,
    epochs: int = 3,
    n_batches: int = 2,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    d1: int = 4,
) -> list[float]:
    """Replays ``plans.training.train_relational_two_layer`` (bench
    config, as called by ``q_train_relational``) — the customer←orders
    spec through the generic stack twin."""
    from dataclasses import replace

    from .stack import ORDERS_LAYER_SPEC

    spec = replace(ORDERS_LAYER_SPEC, hidden_dim=d1, neighbor_budget=neighbor_budget)
    return _stack_losses(
        sf_dir,
        (spec,),
        epochs=epochs,
        n_batches=n_batches,
        seed=seed,
        neighbor_budget=neighbor_budget,
    )


def _three_layer_losses(
    sf_dir: str,
    epochs: int = 2,
    n_batches: int = 2,
    seed: int = 42,
    neighbor_budget: int | None = 5,
) -> list[float]:
    """Replays the depth-3 bench stack (customer ← orders ← lineitem,
    ``plans.stack.THREE_LAYER_SPECS``) — the aggregation-of-aggregation
    gradient recomputed independently."""
    from .stack import THREE_LAYER_SPECS

    return _stack_losses(
        sf_dir,
        THREE_LAYER_SPECS,
        epochs=epochs,
        n_batches=n_batches,
        seed=seed,
        neighbor_budget=neighbor_budget,
    )
