"""Feature-encoding converters (SURVEY F10-F15, A5).

Ported semantics from the reference's converters
(``/root/reference/db_transformer/data/converter/column/cat_converter.py``,
``data/ctu_dataset.py:156-193``), re-expressed as distributed joins:

- **dict-encode** (F12): NULL gets code 0 (``cat_converter.py:33-38``),
  non-null distinct values get codes 1..n. The reference assigns codes
  in first-appearance order — meaningless in a distributed scan — so we
  assign in **sorted value order**, which is deterministic, oracle-
  checkable, and equivalent for downstream embedding lookup (codes are
  an arbitrary bijection). The code table is tiny (card ≤ 1000 by the
  analyzer's threshold) → broadcast join, no shuffle of the fact table.
- **normalizer reconciliation** (A5, ``cat_converter.py:44-76``): when
  the observed distinct count disagrees with the declared cardinality,
  try the normalizer chain in registry order until one matches.
- **one-hot** (F13), **multi-label binarize** (F15,
  ``ctu_dataset.py:156-166``), **factorize target** (F14,
  ``ctu_dataset.py:188-193``), **fillna** (F11), **num cast** (F10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .normalize import NORMALIZERS, normalize


# the loud ceiling on code-table size: `cat` columns are ≤1000 by the
# analyzer's threshold, so anything near this cap is a mis-typed
# column (free text / an id guessed as categorical) — and past it BOTH
# downstream shapes break silently-slowly: the gap-free ranking funnels
# the whole distinct set through one reducer, and dict_encode
# broadcasts the table to every executor
CODE_TABLE_MAX_CARD = 100_000


def build_code_table(
    df: DataFrame,
    column: str,
    normalizer: str = "identity",
    max_card: int = CODE_TABLE_MAX_CARD,
) -> DataFrame:
    """Code table ``(value, code)``: NULL→0, sorted non-null values→1..n.

    The distinct runs distributed; the window ranking runs on the
    already-tiny distinct set (single partition of ≤card rows — fine,
    and the only way to get gap-free codes). That "tiny" is a CONTRACT
    (the analyzer's ``cat`` threshold), so it is checked loudly: one
    count over the already-distinct frame, and a cardinality past
    ``max_card`` raises instead of funneling a mis-typed high-card
    column (free text, an id) through one reducer and a broadcast."""
    from pyspark.sql.window import Window

    vals = df.select(normalize(F.col(column), normalizer).alias("value")).distinct()
    nonnull = vals.filter(F.col("value").isNotNull())
    card = nonnull.count()
    if card > max_card:
        raise ValueError(
            f"build_code_table: column {column!r} has {card} distinct "
            f"values (> max_card={max_card}) — not a categorical "
            "column. Check the semantic type (reconcile_cardinality / "
            "SchemaAnalyzer), or raise max_card explicitly if the "
            "cardinality is intended."
        )
    w = Window.orderBy("value")
    coded = nonnull.select("value", F.row_number().over(w).alias("code"))
    return coded


def dict_encode(
    df: DataFrame,
    column: str,
    out: str | None = None,
    normalizer: str = "identity",
    code_table: DataFrame | None = None,
) -> DataFrame:
    """F12: replace ``column`` with integer codes (NULL→0)."""
    out = out or column
    codes = code_table if code_table is not None else build_code_table(df, column, normalizer)
    key = normalize(F.col(column), normalizer)
    joined = df.withColumn("__cat_key", key).join(
        broadcast(codes), F.col("__cat_key").eqNullSafe(F.col("value")), "left"
    )
    drop_cols = ["__cat_key", "value", "code"] + ([column] if out == column else [])
    return (
        joined.withColumn(out + "__tmp", F.coalesce(F.col("code"), F.lit(0)))
        .drop(*drop_cols)
        .withColumnRenamed(out + "__tmp", out)
    )


def reconcile_cardinality(
    df: DataFrame, column: str, expected_card: int
) -> tuple[str, DataFrame]:
    """A5: walk the normalizer registry in order until the null-inclusive
    distinct count equals ``expected_card``; return (normalizer_name,
    code_table). Raises with per-normalizer diagnostics like the
    reference (``cat_converter.py:54-76``)."""
    failed: list[tuple[str, int]] = []
    for name in NORMALIZERS:
        vals = df.select(normalize(F.col(column), name).alias("value")).distinct()
        n = vals.count()
        if n == expected_card:
            return name, build_code_table(df, column, name)
        failed.append((name, n))
    msg = "\n".join(f" ->    {n} (cardinality {c})" for n, c in failed)
    raise RuntimeError(
        f"Expected {expected_card} unique values, but the following "
        f"normalizations provided the following cardinalities instead:\n{msg}"
    )


def one_hot(df: DataFrame, column: str, values: list | None = None) -> DataFrame:
    """F13: explicit 0/1 indicator columns. ``values`` may be passed to
    fix the output schema (needed at scale — a schema should not depend
    on a full scan); if omitted, distinct values are collected (the
    column must be low-cardinality categorical)."""
    if values is None:
        values = [
            r[0]
            for r in df.select(column).distinct().filter(F.col(column).isNotNull()).collect()
        ]
        values.sort()
    cols = [
        F.when(F.col(column) == F.lit(v), 1).otherwise(0).alias(f"{column}_{v}")
        for v in values
    ]
    return df.select("*", *cols)


def multilabel_binarize(
    df: DataFrame, column: str, sep: str = ",", labels: list[str] | None = None
) -> DataFrame:
    """F15: SET-like column ``'a,b'`` → one 0/1 column per label
    (``ctu_dataset.py:156-166``, MariaDB SET semantics). Expressed as
    ``array_contains(split(col))`` — pure codegen, no explode/pivot
    shuffle. ``labels`` fixes the schema; if omitted they are discovered
    with one distinct job."""
    arr = F.split(F.col(column), sep)
    if labels is None:
        labels = sorted(
            r[0]
            for r in df.select(F.explode(arr).alias("l")).distinct().collect()
            if r[0] is not None and r[0] != ""
        )
    cols = [
        F.when(F.array_contains(arr, F.lit(l)), 1).otherwise(0).alias(f"{column}_{l}")
        for l in labels
    ]
    return df.select("*", *cols)


def factorize_target(df: DataFrame, column: str, out: str = "label") -> DataFrame:
    """F14: string/categorical target → dense int codes 0..n-1 in sorted
    order (the reference uses ``pd.factorize`` appearance order,
    ``ctu_dataset.py:188-193`` — sorted is the deterministic analog).
    NULL targets are invalid and dropped. Class count is capped like
    :func:`build_code_table` (same single-reducer/broadcast contract)."""
    from pyspark.sql.window import Window

    distinct = (
        df.select(F.col(column).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
    )
    card = distinct.count()
    if card > CODE_TABLE_MAX_CARD:
        raise ValueError(
            f"factorize_target: target {column!r} has {card} distinct "
            f"classes (> {CODE_TABLE_MAX_CARD}) — not a categorical "
            "target"
        )
    codes = distinct.select(
        "value", (F.row_number().over(Window.orderBy("value")) - 1).alias(out)
    )
    return df.join(broadcast(codes), df[column] == codes["value"], "inner").drop("value")


def cast_num(c: Column, fill: float | None = None) -> Column:
    """F10: numeric feature cast; reference fills None→0
    (``num_convertor.py:18-22``) — pass ``fill=0.0`` for parity."""
    out = c.cast("double")
    if fill is not None:
        out = F.coalesce(out, F.lit(float(fill)))
    return out
