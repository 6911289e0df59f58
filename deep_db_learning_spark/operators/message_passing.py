"""Message passing as relational dataflow (SURVEY §2.4 A6-A8, §2.7).

The reference's GNN convolutions are, relationally, *join + group-by*:
PyG's ``aggr`` over incoming edges per destination node
(``nn/models/hetero_gnn.py:25-37``, ``nn/conv/mean_add.py:8-20``) is

    edges ⋈ src_features  →  groupBy(dst)  →  sum/mean/min/max/collect

and that is exactly how we execute it — one shuffle on dst per layer,
whole-stage codegen for the message expressions, AQE for skewed hubs.

Attention aggregation (``nn/aggr/attention.py:10-40``) comes in two
physical forms:

- :func:`softmax_attention_sql` — when the score is a Column
  expression, the softmax is the classic two-pass exp trick over a
  window by dst: max-shift, exp, normalize. Pure JVM, scales.
- :func:`attention_aggregate_pandas` — the general kernel (learned
  Q/K projections) as a grouped-map ``applyInPandas`` over dst groups,
  Arrow-batched numpy (torch is not in this container; the kernel is
  the same math, ``softmax(QKᵀ/√d)·V``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deep_db_learning_spark.functions.exact_agg import (
    DECIMAL_TYPE,
    exact_avg,
    exact_sum,
)

AGG_FNS = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    # "cat" in the reference's AggrType (main.py:42) = concatenation
    "collect": F.collect_list,
}

# order-independent variants for non-associative float folds; min/max/
# count are already order-independent and stay on the fast path
_EXACT_FNS = {"sum": exact_sum, "mean": exact_avg, "avg": exact_avg}

_FLOATING = {"float", "double"}


def agg_expressions(
    dtypes: dict[str, str],
    feature_cols: list[str],
    aggs: list[str],
    prefix: str = "",
) -> list:
    """The shared agg-expression list for message aggregation: one
    ``{prefix}{agg}_{col}`` per (agg, col) + ``{prefix}degree``. Sum
    and mean over float/double columns are the decimal folds of
    :mod:`..functions.exact_agg`."""

    def agg_expr(a: str, c: str):
        if a in _EXACT_FNS and dtypes.get(c) in _FLOATING:
            return _EXACT_FNS[a](c).alias(f"{prefix}{a}_{c}")
        return AGG_FNS[a](F.col(c)).alias(f"{prefix}{a}_{c}")

    exprs = [agg_expr(a, c) for a in aggs for c in feature_cols]
    exprs.append(F.count(F.lit(1)).alias(f"{prefix}degree"))
    return exprs


def aggregate_neighbors(
    edges: DataFrame,
    src_features: DataFrame,
    feature_cols: list[str],
    aggs: list[str] = ("mean",),
    src: str = "src",
    dst: str = "dst",
    src_id: str = "node_id",
    prefix: str = "",
) -> DataFrame:
    """A6/N11: aggregate src-node features onto each dst node.

    Output columns are ``{prefix}{agg}_{col}`` plus ``{prefix}degree``
    (in-degree — the count message). The join broadcasts neither side
    by default (both can be huge); Spark/AQE picks the strategy, and
    callers co-partitioned on node_id reuse the shuffle.

    Sum/mean over float/double columns use the decimal fold from
    :mod:`..functions.exact_agg`, so the result is identical for every
    partitioning — reproducibility you want on a 1000-executor run, at
    a small JVM decimal-add cost.
    """
    dtypes = dict(src_features.dtypes)
    feats = src_features.select(
        F.col(src_id).alias(src), *[F.col(c) for c in feature_cols]
    )
    joined = edges.join(feats, src, "inner")
    return joined.groupBy(dst).agg(
        *agg_expressions(dtypes, feature_cols, list(aggs), prefix)
    )


def mean_add_conv(
    edges: DataFrame,
    node_features: DataFrame,
    feature_cols: list[str],
    src_id: str = "node_id",
) -> DataFrame:
    """N7 ``MeanAddConv`` (``nn/conv/mean_add.py:8-20``): per dst node,
    ``x_dst + mean(x_src)`` per feature column."""
    agg = aggregate_neighbors(edges, node_features, feature_cols, ["mean"])
    dst_feats = node_features.select(
        F.col(src_id).alias("dst"), *[F.col(c) for c in feature_cols]
    )
    out = dst_feats.join(agg, "dst", "left")
    combined = [
        (F.col(c) + F.coalesce(F.col(f"mean_{c}"), F.lit(0.0))).alias(f"conv_{c}")
        for c in feature_cols
    ]
    return out.select("dst", *combined)


def softmax_attention_sql(
    edges_with_score: DataFrame,
    value_cols: list[str],
    score: str = "score",
    dst: str = "dst",
    round_to: int | None = None,
) -> DataFrame:
    """A7/N10 when the attention score is data-computable: softmax over
    each dst group via the numerically-stable exp trick, then weighted
    sum of values.

    One window (max-shift) + one groupBy on the same key — the window's
    hash partitioning on dst is reused by the groupBy, so it costs a
    single shuffle, all JVM. Numerator and denominator are folded with
    the exact decimal sum (``exact_agg``) so the softmax result is
    partitioning-independent; per-edge ``exp`` terms are plain doubles.
    """
    w = Window.partitionBy(dst)
    shifted = edges_with_score.withColumn(
        "__w", F.exp(F.col(score) - F.max(score).over(w))
    )
    den = F.sum(F.col("__w").cast(DECIMAL_TYPE)).cast("double")
    aggs = [
        (
            F.sum((F.col(c) * F.col("__w")).cast(DECIMAL_TYPE)).cast("double") / den
        ).alias(f"attn_{c}")
        for c in value_cols
    ]
    out = shifted.groupBy(dst).agg(*aggs)
    if round_to is not None:
        out = out.select(
            dst, *[F.round(F.col(f"attn_{c}"), round_to).alias(f"attn_{c}") for c in value_cols]
        )
    return out


def attention_aggregate_pandas(
    edges_with_feats: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    query_cols: list[str] | None = None,
    dst: str = "dst",
) -> DataFrame:
    """A7/N8/N10 general form: per-dst-group scaled dot-product
    attention as a grouped-map pandas UDF (Arrow batches, numpy kernel).

    ``score_e = (q_dst · k_e) / sqrt(d)`` with q = mean of key vectors
    when ``query_cols`` is None (scatter-mean of keys, the reference's
    ``nn/aggr/attention.py:27``), else the dst-row query columns.

    Skew note: a hub dst with millions of edges lands in one group —
    use :func:`attention_aggregate_salted` (same math, algebraic
    decomposition, no single-task hot group) when profiling shows hub
    skew; this kernel form exists for the genuinely non-algebraic
    cases (a learned kernel that needs the whole group in memory).
    """
    import numpy as np
    import pandas as pd

    d = len(key_cols)
    out_schema = ", ".join([f"{dst} bigint"] + [f"attn_{c} double" for c in value_cols])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[key_cols].to_numpy(dtype="float64")
        v = pdf[value_cols].to_numpy(dtype="float64")
        if query_cols is None:
            q = k.mean(axis=0)
        else:
            q = pdf[query_cols].to_numpy(dtype="float64")[0]
        scores = k @ q / math.sqrt(d)
        scores -= scores.max()
        w = np.exp(scores)
        w /= w.sum()
        out = (w[:, None] * v).sum(axis=0)
        return pd.DataFrame(
            [[pdf[dst].iloc[0], *out]], columns=[dst] + [f"attn_{c}" for c in value_cols]
        )

    return edges_with_feats.groupBy(dst).applyInPandas(kernel, out_schema)


def attention_aggregate_salted(
    edges_with_feats: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    query_cols: list[str] | None = None,
    dst: str = "dst",
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof twin of :func:`attention_aggregate_pandas` — the same
    ``softmax(q·k/√d)·v`` per dst, decomposed algebraically so a hub
    dst with millions of in-edges never lands in one task.

    The dot-product score is a pure JVM expression, and every grouped
    quantity is an associative fold, so the whole computation is:

    1. (``query_cols is None`` only) q = scatter-mean of keys per dst —
       salted two-phase decimal sums, joined back on dst.
    2. per-dst ``max(score)`` — salted partial max → final max, joined
       back on dst (the exp-trick shift).
    3. numerator ``Σ exp·v`` and denominator ``Σ exp`` — salted partial
       DECIMAL sums → final sums → one divide.

    Each groupBy runs as ``groupBy(dst, salt)`` partials (hub spread
    over ``n_salts`` tasks) then a tiny ``groupBy(dst)`` final over
    ``n_salts`` rows per dst. The two joins back onto the edge frame
    are where a hub key concentrates — that side is covered by AQE
    skew-join splitting (on in the session defaults), which this
    decomposition deliberately leaves to the engine: the *aggregation*
    skew is the part AQE cannot fix, and it is gone here.

    Decimal folds make the result independent of partitioning and
    bitwise-stable run to run; it matches the pandas kernel to float
    rounding (~1e-12 relative, pinned in tests/test_message_passing.py).
    The folds use decimal(38,18) — exp weights are ≤ 1 after the max
    shift, so scale 18 captures a double's full mantissa; the integral
    headroom (1e20) bounds |value| · group size at ~1e20 before
    overflow, far beyond feature magnitudes these pipelines see.
    """
    ATTN_DEC = "decimal(38,18)"
    d = len(key_cols)
    e = edges_with_feats
    # row-local salt: monotonically_increasing_id cycles through the
    # buckets within every partition, so a hub spreads over n_salts
    # tasks even when its edges carry IDENTICAL features (a
    # feature-hash salt collapses to one bucket there — review r3).
    # The id depends on partitioning, but every downstream fold is an
    # associative decimal sum or a max, so the RESULT does not.
    e = e.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )

    if query_cols is None:
        qpart = e.groupBy(dst, "__salt").agg(
            *[
                F.sum(F.col(c).cast(ATTN_DEC)).alias(f"__pq_{c}")
                for c in key_cols
            ],
            F.count(F.lit(1)).alias("__pn"),
        )
        qrows = qpart.groupBy(dst).agg(
            *[
                (F.sum(f"__pq_{c}").cast("double") / F.sum("__pn")).alias(f"__q_{c}")
                for c in key_cols
            ]
        )
        e = e.join(qrows, dst, "inner")
        q_exprs = [F.col(f"__q_{c}") for c in key_cols]
    else:
        q_exprs = [F.col(c) for c in query_cols]

    score = None
    for qc, kc in zip(q_exprs, key_cols):
        term = qc * F.col(kc)
        score = term if score is None else score + term
    e = e.withColumn("__score", score / F.lit(math.sqrt(d)))

    smax = (
        e.groupBy(dst, "__salt")
        .agg(F.max("__score").alias("__pm"))
        .groupBy(dst)
        .agg(F.max("__pm").alias("__smax"))
    )
    e = e.join(smax, dst, "inner").withColumn(
        "__w", F.exp(F.col("__score") - F.col("__smax"))
    )

    partial = e.groupBy(dst, "__salt").agg(
        F.sum(F.col("__w").cast(ATTN_DEC)).alias("__pden"),
        *[
            F.sum((F.col(c) * F.col("__w")).cast(ATTN_DEC)).alias(f"__pnum_{c}")
            for c in value_cols
        ],
    )
    den = F.sum("__pden").cast("double")
    return partial.groupBy(dst).agg(
        *[
            (F.sum(f"__pnum_{c}").cast("double") / den).alias(f"attn_{c}")
            for c in value_cols
        ]
    )


def hetero_layer(
    edges: dict[str, DataFrame],
    edge_meta: dict[str, tuple[str, str]],
    node_features: dict[str, DataFrame],
    feature_cols: dict[str, list[str]],
    aggs: list[str] = ("mean",),
) -> dict[str, DataFrame]:
    """N13 ``HeteroConv``: run one aggregation per edge type, then
    combine per destination node type by summing the per-edge-type
    results (the reference's default ``aggr`` across edge types).

    Returns {table → DataFrame(dst, combined features…)}. Each edge
    type contributes columns namespaced by its type, outer-joined on
    dst so nodes missing one relation keep the others' messages.
    """
    per_dst: dict[str, list[DataFrame]] = {}
    for et, e in edges.items():
        src_t, dst_t = edge_meta[et]
        if src_t not in node_features:
            continue
        cols = feature_cols.get(src_t)
        if not cols:
            continue
        agg = aggregate_neighbors(e, node_features[src_t], cols, list(aggs), prefix=f"{et}__")
        per_dst.setdefault(dst_t, []).append(agg)
    out: dict[str, DataFrame] = {}
    for dst_t, parts in per_dst.items():
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.join(p, "dst", "outer")
        out[dst_t] = acc
    return out


def aggregate_neighbors_salted(
    edges: DataFrame,
    src_features: DataFrame,
    feature_cols: list[str],
    aggs: list[str] = ("mean",),
    n_salts: int = 16,
    src: str = "src",
    dst: str = "dst",
    src_id: str = "node_id",
    prefix: str = "",
) -> DataFrame:
    """A6 with explicit skew salting: a hub dst with millions of
    in-edges puts its whole group in one task under plain groupBy. The
    two-phase form — groupBy(dst, salt) partial → groupBy(dst) final —
    spreads each hub over ``n_salts`` tasks.

    Works because the supported messages are algebraic: sum/min/max/
    count combine by sum/min/max/sum, and mean = final decimal sum ÷
    final NON-NULL count — ``count(col)``, not ``count(*)``, to match
    Spark's/SQL's avg semantics (and the unsalted path's ``exact_avg``)
    when the feature column has NULLs. The decimal fold keeps the
    salted result bitwise-identical to the unsalted one (decimal
    addition is associative — that is the point of ``exact_agg``).
    AQE's skew-join handling covers the JOIN side; this covers the
    AGGREGATION side.
    """
    dtypes = dict(src_features.dtypes)
    feats = src_features.select(
        F.col(src_id).alias(src), *[F.col(c) for c in feature_cols]
    )
    joined = edges.join(feats, src, "inner").withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(src), F.lit(17)), F.lit(n_salts))
    )

    partial_exprs, final_exprs = [], []
    partial_names: set[str] = set()
    for c in feature_cols:
        is_float = dtypes.get(c) in _FLOATING
        sum_part = (
            F.sum(F.col(c).cast(DECIMAL_TYPE)) if is_float else F.sum(F.col(c))
        )
        for a in aggs:
            if a in ("sum", "mean", "avg"):
                pname = f"__psum_{c}"
                if pname not in partial_names:
                    partial_names.add(pname)
                    partial_exprs.append(sum_part.alias(pname))
            if a in ("mean", "avg"):
                nname = f"__pnn_{c}"
                if nname not in partial_names:
                    partial_names.add(nname)
                    partial_exprs.append(F.count(F.col(c)).alias(nname))
            if a == "min":
                partial_exprs.append(F.min(F.col(c)).alias(f"__pmin_{c}"))
                final_exprs.append(F.min(f"__pmin_{c}").alias(f"{prefix}min_{c}"))
            if a == "max":
                partial_exprs.append(F.max(F.col(c)).alias(f"__pmax_{c}"))
                final_exprs.append(F.max(f"__pmax_{c}").alias(f"{prefix}max_{c}"))
    partial_exprs.append(F.count(F.lit(1)).alias("__pcnt"))

    partial = joined.groupBy(dst, "__salt").agg(*partial_exprs)

    for c in feature_cols:
        is_float = dtypes.get(c) in _FLOATING
        fsum = F.sum(f"__psum_{c}")
        fsum_val = fsum.cast("double") if is_float else fsum
        for a in aggs:
            if a == "sum":
                final_exprs.append(fsum_val.alias(f"{prefix}sum_{c}"))
            elif a in ("mean", "avg"):
                final_exprs.append(
                    (fsum.cast("double") / F.sum(f"__pnn_{c}")).alias(f"{prefix}{a}_{c}")
                )
    final_exprs.append(F.sum("__pcnt").alias(f"{prefix}degree"))
    return partial.groupBy(dst).agg(*final_exprs)
