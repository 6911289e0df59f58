"""Sampling operators: node splits (N26) and neighbor-budget sampling (N27).

The reference delegates to PyG's ``RandomNodeSplit`` (``main.py:221``)
and ``HGTLoader`` with ≤50 neighbors per type per layer
(``experiments/blueprint_mlflow.py:53,119-133``), both seeded. Their
randomness is torch-RNG-based and irreproducible outside torch, so we
pin determinism with the portable Knuth hash
(:mod:`..functions.hashing`): reproducible across engines (DuckDB
oracle) AND across repartitioning — ``rand(seed)`` changes row
assignment whenever the partitioning changes, which at 100 TB it will.

Neighbor sampling = one window per edge type:
``row_number() over (partition by dst order by hash(src), src) <= k``
— the only window function in the whole engine (SURVEY §4 note). The
partition-by-dst window shuffles edges once on dst, which downstream
aggregation needs anyway; AQE handles skewed dst fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import knuth_hash, split_label


def random_node_split(
    nodes: DataFrame,
    id_col: str = "node_id",
    fractions: tuple[float, float, float] = (0.7, 0.1, 0.2),
    seed: int = 42,
    out: str = "split",
) -> DataFrame:
    """N26: deterministic train/val/test assignment per node."""
    return nodes.withColumn(out, split_label(F.col(id_col), fractions, seed))


def sample_neighbors(
    edges: DataFrame,
    k: int,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """N27: keep ≤k pseudo-random src neighbors per dst.

    Deterministic: ordering key is ``knuth_hash(src, seed)`` with src as
    tie-break, so the same (edges, k, seed) always yields the same
    sample — on any engine and any partitioning.
    """
    w = Window.partitionBy(dst).orderBy(knuth_hash(F.col(src), seed), F.col(src))
    return (
        edges.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame,
    group_by: list[str] | str,
    order_by: list[str] | str,
    k: int,
    descending: bool = True,
    tiebreak: str | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Deterministic top-k rows per group (extension — the reference has
    no ORDER BY/top-k at all, SURVEY §2.5).

    Same physical shape as :func:`sample_neighbors`: one
    ``row_number`` window per group — a single shuffle on the group
    key; no global sort. ``tiebreak`` (always ascending) pins a total
    order when ``order_by`` has duplicates — without it top-k on a
    tied boundary is engine-dependent. ``rank_col`` optionally exposes
    the 1-based rank in the output."""
    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    orders = [order_by] if isinstance(order_by, str) else list(order_by)
    keys = [F.col(c).desc() if descending else F.col(c).asc() for c in orders]
    if tiebreak is not None:
        keys.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*groups).orderBy(*keys)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    if rank_col is None:
        return out.drop("__rn")
    return out.withColumnRenamed("__rn", rank_col)


def sample_neighbors_two_phase(
    edges: DataFrame,
    k: int,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    n_salts: int = 16,
) -> DataFrame:
    """N27 with a hub-node guard: bit-identical output to
    :func:`sample_neighbors` for payload-free ``(src, dst)`` edges,
    but the per-dst window is split into two phases so a celebrity
    node's edge set never lands in ONE task.

    Tie caveat: the order ``(knuth_hash(src, seed), src)`` is total
    over DISTINCT src values, but duplicate ``(src, dst)`` rows (or
    edges carrying payload columns) tie under it — ``row_number``
    breaks such ties arbitrarily, so phase 1 may retain a different
    tie row than the single-window form. Identical modulo equal-key
    ties; add payload columns to the order-by if their values matter.

    Exactness: the sample keeps the k smallest rows under the total
    order ``(knuth_hash(src, seed), src)``. The global k smallest are
    always among the union of per-salt k smallest (each is ≥ its
    salt-group's k-th element), so phase 1 — window over
    ``(dst, salt)`` with the SAME order, salt derived from src by a
    second hash — loses nothing, and phase 2 re-ranks ≤ ``k·n_salts``
    survivors per dst. A dst with 10⁷ in-edges costs one task of
    ~10⁷/n_salts rows instead of 10⁷ (the same two-phase shape as
    ``aggregate_neighbors_salted`` for algebraic aggs). Costs one
    extra exchange — use the plain form when degrees are bounded."""
    w1 = Window.partitionBy(
        dst, F.pmod(knuth_hash(F.col(src), seed + 13), F.lit(n_salts))
    ).orderBy(knuth_hash(F.col(src), seed), F.col(src))
    w2 = Window.partitionBy(dst).orderBy(knuth_hash(F.col(src), seed), F.col(src))
    return (
        edges.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def stratified_node_split(
    nodes: DataFrame,
    strata_col: str,
    id_col: str = "node_id",
    fractions: tuple[float, float, float] = (0.7, 0.1, 0.2),
    seed: int = 42,
    out: str = "split",
) -> DataFrame:
    """Stratified train/val/test split: EXACT proportional allocation
    within every stratum (class), not just in expectation.

    :func:`random_node_split`'s hash-bucket split is proportional only
    in expectation — a rare class can land entirely in train. Here
    rows are ranked within their stratum by the portable Knuth hash
    (id tie-break) and the first ⌈f·n_s⌉ of each stratum go to each
    part; the boundary test is pure integer arithmetic
    (``rank·10⁴ ≤ f·10⁴·n_s``), so the assignment is bit-reproducible
    across engines and partitionings. One shuffle (the stratum
    window); the per-stratum count rides the same window partition.
    """
    w = Window.partitionBy(strata_col).orderBy(
        knuth_hash(F.col(id_col), seed), F.col(id_col)
    )
    cw = Window.partitionBy(strata_col)
    train_hi = int(fractions[0] * 10_000)
    val_hi = train_hi + int(fractions[1] * 10_000)
    rn = F.row_number().over(w).cast("bigint")
    n = F.count(F.lit(1)).over(cw).cast("bigint")
    label = (
        F.when(rn * 10_000 <= F.lit(train_hi) * n, F.lit("train"))
        .when(rn * 10_000 <= F.lit(val_hi) * n, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return nodes.withColumn(out, label)


def stratified_node_split_sql(
    table: str,
    strata_col: str,
    id_col: str,
    fractions: tuple[float, float, float] = (0.7, 0.1, 0.2),
    seed: int = 42,
    out: str = "split",
) -> str:
    """ANSI/DuckDB twin of :func:`stratified_node_split`."""
    from ..functions.hashing import knuth_hash_sql

    h = knuth_hash_sql(id_col, seed)
    train_hi = int(fractions[0] * 10_000)
    val_hi = train_hi + int(fractions[1] * 10_000)
    return f"""
        SELECT * EXCLUDE (__rn, __n),
               CASE WHEN __rn * 10000 <= {train_hi} * __n THEN 'train'
                    WHEN __rn * 10000 <= {val_hi} * __n THEN 'val'
                    ELSE 'test' END AS {out}
        FROM (
          SELECT *,
                 CAST(row_number() OVER (PARTITION BY {strata_col}
                      ORDER BY {h}, {id_col}) AS BIGINT) AS __rn,
                 CAST(count(*) OVER (PARTITION BY {strata_col}) AS BIGINT) AS __n
          FROM {table}
        )
    """


def kfold_assign(
    df: DataFrame,
    id_col: str = "node_id",
    k: int = 5,
    seed: int = 42,
    out: str = "fold",
) -> DataFrame:
    """Deterministic k-fold CV assignment: ``fold ∈ [0, k)`` by the
    portable key hash — row-local (zero shuffles), reproducible across
    engines/partitionings, and stable when the table grows (a new row
    never moves an old row's fold, unlike rank-based folding)."""
    return df.withColumn(
        out, (knuth_hash(F.col(id_col), seed) % F.lit(k)).cast("int")
    )


def kfold_train_test(
    df: DataFrame,
    fold: int,
    id_col: str = "node_id",
    k: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) pair for CV round ``fold``."""
    a = kfold_assign(df, id_col, k, seed)
    return (
        a.filter(F.col("fold") != fold).drop("fold"),
        a.filter(F.col("fold") == fold).drop("fold"),
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str,
    seed: int = 42,
    exact_window: bool = False,
    n_bins: int | None = None,
    collect_cap: int | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the A-ES one-pass
    reduction (Efraimidis & Spirakis 2006): each row draws a uniform
    ``u`` and the k largest ``u^{1/w}`` are exactly a weighted sample
    without replacement. Here ``u`` derives from the PORTABLE md5 hash
    of ``(seed, id)`` (reproducible across runs, engines, and
    partitionings — no RNG state anywhere) and the key is compared in
    log space, ``log(u)/w`` (order-identical, no underflow at large
    weights). One pure-codegen key column + one exact
    threshold-cut top-k (see below) — only (id, key) pairs ever probe.

    Rows with NULL or non-positive weights are excluded (a zero weight
    must never be sampled; A-ES keys are undefined there). Returns the
    sampled rows with their ``__aes_key`` (pytest replays the exact key
    arithmetic in python; the transcendental keeps this operator
    pytest-pinned rather than driver-hashed — java's StrictMath.log and
    python's libm agree on every value we test, but the repo's oracle
    regime does not rest on that).

    Default selection path is the threshold cut
    (:func:`~.selection.topk_threshold_cut`): histogram refinement
    finds the exact k-th key with bounded driver state, the kept set
    is a pure codegen filter — nothing ranks through one reducer at
    any corpus size. ``exact_window=True`` retains the global-rank
    window form (the reference semantics the pytest equality pin
    compares against)."""
    from ..functions.hashing import md5_prefix_hash

    u = (
        md5_prefix_hash(
            F.concat(F.lit(f"aes:{seed}:"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    key = F.log(u) / F.col(weight_col).cast("double")
    keyed = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__aes_key", key)
    if exact_window:
        from pyspark.sql.window import Window

        w = Window.orderBy(F.desc("__aes_key"), F.col(id_col))
        return (
            keyed.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .drop("__rk")
        )
    from .selection import COLLECT_CAP, N_BINS, topk_threshold_cut

    return topk_threshold_cut(
        keyed, "__aes_key", k, id_col, descending=True,
        n_bins=n_bins or N_BINS, collect_cap=collect_cap or COLLECT_CAP,
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """A-ES weighted sampling without replacement PER GROUP — ≤k rows
    from every group, drawn ∝ weight. The key arithmetic is identical
    to :func:`weighted_sample_without_replacement` (portable md5
    uniforms derived from ``(seed, id)`` alone, log-space comparison),
    so a row's key does not depend on its group and the python replay
    is one shared function. Selection here is a PARTITIONED window
    (``partition by group``) — per-group ranks scale fine (the
    single-reducer problem is specific to GLOBAL ranks; AQE handles
    group skew), the same shape as ``sample_neighbors``. Returns the
    sampled rows with ``__aes_key``."""
    from ..functions.hashing import md5_prefix_hash

    u = (
        md5_prefix_hash(
            F.concat(F.lit(f"aes:{seed}:"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    key = F.log(u) / F.col(weight_col).cast("double")
    keyed = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__aes_key", key)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__aes_key"), F.col(id_col)
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
