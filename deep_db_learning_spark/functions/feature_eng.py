"""Leakage-safe categorical target encoding and quantile binning.

The reference embeds categoricals with learned vectors
(``db_transformer/nn/embedder``); production tabular pipelines also
want the classic statistical encodings — but computed WITHOUT target
leakage, which is where naive implementations poison a model: a row
must never see a target statistic its own label contributed to.

- :func:`target_encode_oof` — out-of-fold target encoding: folds come
  from the row-local portable k-fold hash (``operators/sampling.
  kfold_assign``); each row receives the category mean computed on the
  OTHER k−1 folds, with additive (m-estimate) smoothing toward the
  out-of-fold global mean so rare categories shrink to the prior.
  One shuffle (the (category, fold) aggregate); per-row assembly is a
  broadcast join of the tiny (category × fold) grid. All sums are
  decimal folds → bit-reproducible across engines/partitionings.
  Cardinality limit: the grid is card × k rows and flows through one
  global window partition + a broadcast — fine to ~10⁶ grid rows;
  past that, swap the global window for a 1-row aggregate cross-join
  and the broadcast for a shuffle join.
- :func:`bin_by_quantiles` — equal-frequency binning: cut points from
  ``operators/sketch.exact_quantiles`` (exact order statistics, no
  global sort), bucket assignment row-local against the broadcast
  cut-point array.

Leakage math of the OOF fold: with per-(cat, fold) decimal sums
``s_cf``/counts ``n_cf``, fold f's encoding uses
``(Σ_{g≠f} s_cg + m·prior_f) / (Σ_{g≠f} n_cg + m)`` where ``prior_f``
is the global mean over the other folds — pure arithmetic over the
grid, no second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exact_agg import DECIMAL_TYPE
from ..operators.sampling import kfold_assign


def target_encode_oof(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
    k: int = 5,
    smoothing: float = 10.0,
    seed: int = 42,
    out: str | None = None,
) -> DataFrame:
    """Append ``out`` (default ``{cat_col}_te``): the out-of-fold
    smoothed target mean of the row's category. NULL categories form
    their own group (they are a real level); rows with a NULL target
    contribute nothing to any statistic but still receive an encoding.
    """
    out = out or f"{cat_col}_te"
    a = kfold_assign(df, id_col, k=k, seed=seed, out="__fold")
    grid = a.groupBy(cat_col, "__fold").agg(
        # coalesce: an all-NULL-target cell sums to NULL, which would
        # poison the leave-one-out subtraction for its siblings' rows
        F.coalesce(
            F.sum(F.col(target_col).cast(DECIMAL_TYPE)),
            F.lit(0).cast(DECIMAL_TYPE),
        ).alias("__s"),
        F.count(target_col).alias("__n"),
    )
    # per-fold leave-one-out sums over the tiny grid: total minus own
    w_cat = W.partitionBy(cat_col)
    w_all = W.partitionBy()
    grid = (
        grid.withColumn("__s_cat", F.sum("__s").over(w_cat))
        .withColumn("__n_cat", F.sum("__n").over(w_cat))
        .withColumn("__s_all", F.sum("__s").over(w_all))
        .withColumn("__n_all", F.sum("__n").over(w_all))
    )
    oof_s = (F.col("__s_cat") - F.col("__s")).cast("double")
    oof_n = (F.col("__n_cat") - F.col("__n")).cast("double")
    # out-of-fold global prior: all folds' sums minus this fold's —
    # needs this fold's GLOBAL (not per-cat) sums
    w_fold = W.partitionBy("__fold")
    grid = grid.withColumn("__s_fold", F.sum("__s").over(w_fold)).withColumn(
        "__n_fold", F.sum("__n").over(w_fold)
    )
    # degenerate folds: if this fold holds ALL non-null targets the
    # out-of-fold prior is undefined — fall back to the global mean
    # (only reachable on toy data; real k-fold hashes spread targets);
    # with no targets anywhere the encoding is NULL by arithmetic
    oof_all_n = (F.col("__n_all") - F.col("__n_fold")).cast("double")
    prior = F.when(
        oof_all_n > 0,
        (F.col("__s_all") - F.col("__s_fold")).cast("double") / oof_all_n,
    ).otherwise(
        F.col("__s_all").cast("double") / F.col("__n_all").cast("double")
    )
    enc = (oof_s + F.lit(smoothing) * prior) / (oof_n + F.lit(smoothing))
    codes = grid.select(
        cat_col, "__fold", enc.alias(out)
    )
    joined = a.join(
        F.broadcast(codes),
        on=[
            a[cat_col].eqNullSafe(codes[cat_col]),
            a["__fold"] == codes["__fold"],
        ],
        how="left",
    ).drop(codes[cat_col]).drop(codes["__fold"]).drop("__fold")
    return joined


def target_encode_oracle_sql(
    table: str,
    cat_col: str,
    target_col: str,
    id_col: str,
    k: int = 5,
    smoothing: float = 10.0,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`target_encode_oof` — the SAME expression
    tree (knuth folds, decimal-fold grid sums, leave-one-out window
    arithmetic, double division order), emitted as one CTE chain so the
    driver's hash gate can pin the leakage structure bitwise. Decimal →
    double conversions go through the VARCHAR hop (see
    ``exact_sum_sql``). Returns ``(id_col, cat_col, te)``."""
    from .hashing import knuth_hash_sql

    def d2(x: str) -> str:  # correctly-rounded decimal→double
        return f"CAST(CAST(({x}) AS VARCHAR) AS DOUBLE)"

    sm = f"CAST('{smoothing!r}' AS DOUBLE)"
    fold = f"CAST(({knuth_hash_sql(id_col, seed)}) % {int(k)} AS INT)"
    return f"""
        WITH a AS (
          SELECT {id_col}, {cat_col}, {target_col}, {fold} AS fold
          FROM {table}
        ), grid AS (
          SELECT {cat_col} AS cat, fold,
                 COALESCE(sum(CAST({target_col} AS DECIMAL(30,9))),
                          CAST(0 AS DECIMAL(30,9))) AS s,
                 count({target_col}) AS n
          FROM a GROUP BY 1, 2
        ), g AS (
          SELECT cat, fold, s, n,
                 sum(s) OVER (PARTITION BY cat) AS s_cat,
                 sum(n) OVER (PARTITION BY cat) AS n_cat,
                 sum(s) OVER () AS s_all,
                 sum(n) OVER () AS n_all,
                 sum(s) OVER (PARTITION BY fold) AS s_fold,
                 sum(n) OVER (PARTITION BY fold) AS n_fold
          FROM grid
        ), codes AS (
          SELECT cat, fold,
                 ({d2('s_cat - s')} + {sm} * (
                    CASE WHEN CAST(n_all - n_fold AS DOUBLE) > 0
                         THEN {d2('s_all - s_fold')}
                              / CAST(n_all - n_fold AS DOUBLE)
                         ELSE {d2('s_all')} / CAST(n_all AS DOUBLE) END
                 )) / (CAST(n_cat - n AS DOUBLE) + {sm}) AS te
          FROM g
        )
        SELECT a.{id_col}, a.{cat_col}, codes.te
        FROM a JOIN codes
          ON a.{cat_col} IS NOT DISTINCT FROM codes.cat
         AND a.fold = codes.fold
    """


def winsorize_oracle_sql(
    table: str,
    col: str,
    id_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> str:
    """DuckDB twin of :func:`winsorize`: cut points from the full-sort
    ``exact_quantiles_oracle_sql`` twin (the engine's come from the
    no-sort histogram path — same rank definition, independent plan),
    clamp formula text identical to the engine's
    ``least(greatest(x, lo), hi)``. Returns ``(id_col, {col}_wins)``."""
    from ..operators.sketch import dlit, exact_quantiles_oracle_sql

    eq = exact_quantiles_oracle_sql(table, col, [p_lo, p_hi])
    return f"""
        WITH cuts AS (SELECT p, value FROM ({eq})),
        lo AS (SELECT value FROM cuts WHERE p = {dlit(float(p_lo))}),
        hi AS (SELECT value FROM cuts WHERE p = {dlit(float(p_hi))})
        SELECT {id_col},
               CASE WHEN {col} IS NULL THEN NULL
                    ELSE least(greatest(CAST({col} AS DOUBLE), lo.value),
                               hi.value)
               END AS {col}_wins
        FROM {table}, lo, hi
    """


def robust_scale_oracle_sql(table: str, col: str, id_col: str) -> str:
    """DuckDB twin of :func:`robust_scale`: ``(x − median) / IQR`` with
    median/quartiles from the full-sort quantile twin; the engine
    computes ``iqr = q3 − q1`` driver-side over the same exact order
    statistics, so the double subtraction and division reproduce
    bitwise. Zero IQR yields NULL both sides. Returns
    ``(id_col, {col}_rs)``."""
    from ..operators.sketch import dlit, exact_quantiles_oracle_sql

    eq = exact_quantiles_oracle_sql(table, col, [0.25, 0.5, 0.75])
    return f"""
        WITH cuts AS (SELECT p, value FROM ({eq})),
        med AS (SELECT value FROM cuts WHERE p = {dlit(0.5)}),
        iqr AS (
          SELECT (SELECT value FROM cuts WHERE p = {dlit(0.75)})
               - (SELECT value FROM cuts WHERE p = {dlit(0.25)}) AS v
        )
        SELECT {id_col},
               CASE WHEN iqr.v = 0 THEN NULL
                    ELSE (CAST({col} AS DOUBLE) - med.value) / iqr.v
               END AS {col}_rs
        FROM {table}, med, iqr
    """


def bin_by_quantiles_oracle_sql(
    table: str, col: str, id_col: str, n_bins: int = 10
) -> str:
    """DuckDB twin of :func:`bin_by_quantiles`: cut points from the
    full-sort ``exact_quantiles_oracle_sql`` twin, bin = count of cuts
    STRICTLY below the value (ties share a bin, matching the engine's
    ``value > cut`` fold). Returns ``(id_col, col, bin)``."""
    from ..operators.sketch import exact_quantiles_oracle_sql

    probs = [i / n_bins for i in range(1, n_bins)]
    return f"""
        WITH cuts AS (
          SELECT value FROM ({exact_quantiles_oracle_sql(table, col, probs)})
        )
        SELECT {id_col}, {col},
               CASE WHEN {col} IS NULL THEN NULL ELSE CAST(
                 (SELECT count(*) FROM cuts WHERE t.{col} > cuts.value)
               AS INT) END AS bin
        FROM {table} t
    """


def bin_by_quantiles(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    out: str | None = None,
) -> DataFrame:
    """Append ``out`` (default ``{col}_bin``): the equal-frequency bin
    index in ``[0, n_bins)`` — bin b covers values in
    ``(cut[b-1], cut[b]]`` with cut points the exact
    ``1/n … (n−1)/n`` order statistics (ties share a bin; NULLs get
    NULL). Row-local assignment against the broadcast cut array."""
    from ..operators.sketch import exact_quantiles

    out = out or f"{col}_bin"
    probs = [i / n_bins for i in range(1, n_bins)]
    cuts = [
        r["value"]
        for r in sorted(
            exact_quantiles(df, col, probs).collect(),
            key=lambda r: r["p"],
        )
    ]
    c = F.col(col)
    expr = F.lit(0)
    for cut in cuts:
        expr = expr + (c > F.lit(cut)).cast("int")
    return df.withColumn(out, F.when(c.isNull(), None).otherwise(expr))


def winsorize(
    df: DataFrame,
    col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out: str | None = None,
) -> DataFrame:
    """Append ``out`` (default ``{col}_wins``): the value clamped to
    the exact ``[p_lo, p_hi]`` order statistics — the standard heavy-
    tail guard before scaling/regression. Cut points come from the
    no-sort :func:`~..operators.sketch.exact_quantiles` (two bounded
    jobs); the clamp itself is row-local codegen. NULLs stay NULL."""
    from ..operators.sketch import exact_quantiles

    out = out or f"{col}_wins"
    cuts = {
        r["p"]: r["value"]
        for r in exact_quantiles(df, col, [p_lo, p_hi]).collect()
    }
    lo, hi = cuts[float(p_lo)], cuts[float(p_hi)]
    c = F.col(col)
    return df.withColumn(
        out, F.when(c.isNull(), None).otherwise(F.least(F.greatest(c, F.lit(lo)), F.lit(hi)))
    )


def robust_scale(
    df: DataFrame,
    col: str,
    out: str | None = None,
) -> DataFrame:
    """Append ``out`` (default ``{col}_rs``): ``(x − median) / IQR``
    — the outlier-insensitive standardization (sklearn RobustScaler
    semantics) over exact order statistics. A zero IQR (≥ 50% ties)
    yields NULL, never a division blow-up. Row-local after two bounded
    quantile jobs."""
    from ..operators.sketch import exact_quantiles

    out = out or f"{col}_rs"
    cuts = {
        r["p"]: r["value"]
        for r in exact_quantiles(df, col, [0.25, 0.5, 0.75]).collect()
    }
    med, iqr = cuts[0.5], cuts[0.75] - cuts[0.25]
    c = F.col(col)
    if iqr == 0.0:
        return df.withColumn(out, F.lit(None).cast("double"))
    return df.withColumn(out, (c - F.lit(med)) / F.lit(iqr))
