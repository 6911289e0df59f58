"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship relational-learning feature query on
sf0.001. ``queries()`` exposes one entry per implemented operator family
from SURVEY.md §2 (+ the LLM-pipeline extensions); ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one. Column
aliases match exactly between both sides.

Engine code lives in ``deep_db_learning_spark`` — this module only
wires operators to the driver's (spark, sf_dir) calling convention.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deep_db_learning_spark.functions.exact_agg import (
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
)
from deep_db_learning_spark.functions.hashing import knuth_hash, knuth_hash_sql, split_label_sql
from deep_db_learning_spark.functions import text as T
from deep_db_learning_spark.functions.datetime_funcs import (
    datetime_features,
    epoch_seconds,
)
from deep_db_learning_spark.functions.encode import dict_encode, one_hot
from deep_db_learning_spark.functions.normalize import normalize
from deep_db_learning_spark.operators import dedup, search, similarity
from deep_db_learning_spark.plans.tpch_suite import ORACLES as _tpch_suite_oracles
from deep_db_learning_spark.functions.convert import convert_table
from deep_db_learning_spark.functions.encode import multilabel_binarize
from deep_db_learning_spark.operators.bfs import bfs_visited_counts
from deep_db_learning_spark.operators.graph import build_hetero_graph, graph_statistics
from deep_db_learning_spark.operators.message_passing import (
    aggregate_neighbors,
    softmax_attention_sql,
)
from deep_db_learning_spark.operators.sampling import random_node_split, sample_neighbors
from deep_db_learning_spark.profiling import SchemaAnalyzer, profile_table
from deep_db_learning_spark.sources import load_testdata
from deep_db_learning_spark.streaming import (
    hourly_user_features,
    session_stats,
    user_profile_features,
)

# keyed on a weakref-safe identity: id() alone can alias after a
# session is GC'd and a new one lands on the same address — holding the
# session object in the key pins it for the cache's lifetime instead
_DBS: dict[tuple[SparkSession, str], object] = {}


def _db(spark: SparkSession, sf_dir: str):
    key = (spark, sf_dir)
    if key not in _DBS:
        _DBS[key] = load_testdata(spark, sf_dir)
    return _DBS[key]


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 1-hop message-passing feature table for customer nodes
    (orders + events aggregated per customer, split assigned) — the
    feature side of SURVEY §7's minimum slice, on sf0.001."""
    return _customer_features(spark, "/root/testdata/sf0.001")


def _customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    orders_agg = g.aggregate_along_edge(
        "orders__o_custkey__customer",
        ["o_totalprice"],
        ["mean", "sum", "count"],
        prefix="ord_",
    ).select(
        F.col("dst").alias("c_custkey"),
        F.col("ord_mean_o_totalprice").alias("ord_mean_totalprice"),
        F.col("ord_sum_o_totalprice").alias("ord_sum_totalprice"),
        F.col("ord_degree").alias("ord_cnt"),
    )
    events_agg = g.aggregate_along_edge(
        "events__user_id__customer",
        ["value"],
        ["sum"],
        prefix="ev_",
    ).select(
        F.col("dst").alias("c_custkey"),
        F.col("ev_sum_value").alias("ev_sum_value"),
        F.col("ev_degree").alias("ev_cnt"),
    )
    cust = db.df("customer").select("c_custkey", "c_mktsegment")
    out = (
        cust.join(orders_agg, "c_custkey", "left")
        .join(events_agg, "c_custkey", "left")
        .na.fill(0)
    )
    return out.withColumn(
        "split",
        F.expr(split_label_sql("c_custkey")),
    )


# --------------------------------------------------------------------------
# queries — one per operator family
# --------------------------------------------------------------------------

def q_catalog_columns(spark, sf_dir):
    """S1/S2/A4 merged: catalog listing — every (table, column) pair with
    the table's row count. One row per column; the oracle reads DuckDB's
    information_schema joined to per-table counts."""
    db = _db(spark, sf_dir)
    # all table counts in ONE unioned plan — a per-table loop would run
    # 10 serial driver-blocking jobs with idle executors between them
    counted = None
    for t in sorted(db.get_tables()):
        row = db.df(t).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(t).alias("t"), "n"
        )
        counted = row if counted is None else counted.unionByName(row)
    counts = {r["t"]: r["n"] for r in counted.collect()}
    rows = [
        (t, c, counts[t])
        for t in sorted(db.get_tables())
        for c in db.get_columns(t)
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, n_rows bigint"
    )


def q_profile_customer(spark, sf_dir):
    """A1/A3: single-pass profile of customer (null-inclusive distinct)."""
    db = _db(spark, sf_dir)
    stats = profile_table(db.df("customer"))
    rows = [
        (c, s.n_rows, s.n_nonnull, s.n_distinct) for c, s in sorted(stats.items())
    ]
    return spark.createDataFrame(
        rows, "column_name string, n_rows bigint, n_nonnull bigint, n_distinct bigint"
    )


def q_schema_inference(spark, sf_dir):
    """§2 family 2: semantic-type inference over the whole star schema —
    oracle-checked: the DuckDB twin recomputes every value-driven
    decision (distinct ratios, cardinality thresholds, per-cat card)
    from the data, with name/constraint metadata precomputed via the
    analyzer's own regexes (see _schema_inference_oracle). Also
    golden-tested against FIXTURES in tests/."""
    db = _db(spark, sf_dir)
    analyzer = SchemaAnalyzer(db.tables, db.primary_keys, db.foreign_keys)
    schema = analyzer.guess_schema()
    rows = []
    for t in schema:
        for c, spec in schema[t].columns.items():
            rows.append((t, c, spec.type, spec.key, spec.card))
    return spark.createDataFrame(
        rows,
        "table_name string, column_name string, sem_type string, is_key boolean, card int",
    )


def q_encode_mktsegment(spark, sf_dir):
    """F12/F13/F14 merged: the three categorical encoders on one column —
    dict-encode (NULL→0, sorted values→1..n), one-hot 0/1 indicators,
    and target factorization (sorted distinct → dense 0-based codes)."""
    from deep_db_learning_spark.functions.encode import factorize_target

    SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    db = _db(spark, sf_dir)
    out = dict_encode(db.df("customer"), "c_mktsegment", out="seg_code")
    out = one_hot(out, "c_mktsegment", values=SEGMENTS)
    out = factorize_target(out, "c_mktsegment")
    return out.select(
        "c_custkey", "seg_code", "label",
        *[f"c_mktsegment_{v}" for v in SEGMENTS],
    )


def q_datetime_decompose(spark, sf_dir):
    """F3/F4/F6/F7: datetime → year/dayofyear/seconds/epoch + the legacy
    convertor's month/day/ordinal segments."""
    from deep_db_learning_spark.functions.datetime_funcs import legacy_date_segments

    db = _db(spark, sf_dir)
    feats = datetime_features(F.col("o_orderdate"))
    legacy = legacy_date_segments(F.col("o_orderdate"))
    return db.df("orders").select(
        "o_orderkey",
        feats["_year"].alias("od_year"),
        feats["_dayofyear"].alias("od_dayofyear"),
        feats["_seconds_since_midnight"].alias("od_secs"),
        epoch_seconds(F.col("o_orderdate")).alias("od_epoch"),
        legacy["_month"].alias("od_month"),
        legacy["_day"].alias("od_day"),
        legacy["_ordinal"].alias("od_ordinal"),
    )


def q_normalize_cname(spark, sf_dir):
    """F1 + A2 merged: per-row normalizer chains (JVM subset; unidecode
    is UDF-only and unit-tested separately) plus the null-inclusive
    distinct counts under each chain (the reference's
    fetch-and-normalize counter zoo, `db/distinct_cnt_retrieval.py:
    55-155`, computed engine-side) as constant columns."""
    from deep_db_learning_spark.functions.normalize import distinct_count_normalized

    db = _db(spark, sf_dir)
    cust = db.df("customer")
    c = F.col("c_name")
    nd = {
        n: distinct_count_normalized(cust, "c_name", n)
        for n in ("identity", "ci", "strip_ci", "rstrip")
    }
    return cust.select(
        "c_custkey",
        normalize(c, "ci").alias("name_ci"),
        normalize(c, "strip_ci").alias("name_strip_ci"),
        normalize(c, "rstrip").alias("name_rstrip"),
        F.lit(nd["identity"]).cast("bigint").alias("nd_identity"),
        F.lit(nd["ci"]).cast("bigint").alias("nd_ci"),
        F.lit(nd["strip_ci"]).cast("bigint").alias("nd_strip_ci"),
        F.lit(nd["rstrip"]).cast("bigint").alias("nd_rstrip"),
    )


def q_embed_customer(spark, sf_dir):
    """N1/N2/N4: dict-encode + embedding-lookup join + numeric linear
    embed + concat; the oracle reproduces the seeded-hash embedding
    arithmetic verbatim (it is portable integer math)."""
    from deep_db_learning_spark.functions.vectors import norm
    from deep_db_learning_spark.operators.embedder import (
        assemble_features,
        embed_categorical,
        embed_numeric,
    )

    db = _db(spark, sf_dir)
    enc = dict_encode(db.df("customer"), "c_mktsegment", out="seg_code")
    emb = embed_categorical(enc, "seg_code", card=5, dim=4)
    emb = emb.withColumn("bal_emb", embed_numeric(F.col("c_acctbal"), dim=4, impute=0.0))
    out = assemble_features(emb, ["seg_code_emb", "bal_emb"])
    return out.select(
        "c_custkey",
        F.round(norm(F.col("features")), 6).alias("feat_norm"),
    )


def q_edges_orders_customer(spark, sf_dir):
    """J1/J2: FK equi-join edge list (pk node ids)."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    return g.edges["orders__o_custkey__customer"].select(
        F.col("src").alias("src"), F.col("dst").alias("dst")
    )


def q_edge_augment(spark, sf_dir):
    """J5/J6 merged: graph augmentation — forward ∪ reverse edges for
    customer→nation plus self-loop edges on the nation node set, tagged
    by direction ('fwd'/'rev'/'self')."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys)
    g.add_self_loops()
    fwd = g.edges["customer__c_nationkey__nation"].select(
        "src", "dst", F.lit("fwd").alias("direction")
    )
    rev = g.edges["rev_customer__c_nationkey__nation"].select(
        "src", "dst", F.lit("rev").alias("direction")
    )
    loops = g.edges["self_nation"].select(
        "src", "dst", F.lit("self").alias("direction")
    )
    return fwd.unionByName(rev).unionByName(loops)


def q_neighbor_sample(spark, sf_dir):
    """N27: ≤5 pseudo-random orders per customer, seed 42."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    return sample_neighbors(
        g.edges["orders__o_custkey__customer"], k=5, seed=42
    ).select("src", "dst")


def q_node_split(spark, sf_dir):
    """N26 + r7 extensions, mode-tagged: ``random`` — hash-bucket
    train/val/test; ``stratified`` — EXACT proportional allocation
    within each c_mktsegment stratum (integer-arithmetic boundaries,
    `operators/sampling.py:stratified_node_split`); ``kfold`` —
    deterministic 5-fold CV assignment. All are portable-hash
    splits: reproducible across engines and partitionings.

    ``wsample`` (r10 rotation) — A-ES weighted sampling without
    replacement (Efraimidis & Spirakis 2006,
    `operators/sampling.py:weighted_sample_without_replacement`):
    k=120 customers drawn ∝ |c_acctbal| through portable md5 uniforms
    and log-space keys, selected by the scale-safe threshold cut. The
    oracle replays the identical key arithmetic in python over the
    DuckDB-read rows and inlines the chosen ids as VALUES (the
    SemDeDup/ivf pattern); libm log is the one cross-engine float —
    the documented A-ES caveat, pinned here by the driver hash.

    ``budget`` (r11) / ``budgeta`` (r12) — budgeted selection through
    the windowless ``operators/selection.budget_threshold_cut``:
    'budget' is the continuous-key descending profile (c_acctbal
    DESC), 'budgeta' the ascending TIE-HEAVY profile (c_custkey % 7 —
    seven distinct values, the boundary decided inside one tied mass
    by the driver-side exact (key ASC, id ASC) walk). Both oracles
    are the window-cumsum DEFINITION of the greedy prefix."""
    from deep_db_learning_spark.operators.sampling import (
        kfold_assign,
        stratified_node_split,
        weighted_sample_without_replacement,
    )

    db = _db(spark, sf_dir)
    cust = db.df("customer")
    nodes = cust.select(F.col("c_custkey").alias("node_id"))
    rand = random_node_split(nodes, fractions=(0.7, 0.1, 0.2), seed=42).select(
        F.lit("random").alias("mode"),
        F.col("node_id").alias("c_custkey"),
        "split",
    )
    strat = stratified_node_split(
        cust.select("c_custkey", "c_mktsegment"),
        "c_mktsegment",
        "c_custkey",
        fractions=(0.7, 0.1, 0.2),
        seed=42,
    ).select(F.lit("stratified").alias("mode"), "c_custkey", "split")
    folds = kfold_assign(nodes, "node_id", k=5, seed=42).select(
        F.lit("kfold").alias("mode"),
        F.col("node_id").alias("c_custkey"),
        F.concat(F.lit("fold_"), F.col("fold").cast("string")).alias("split"),
    )
    ws = weighted_sample_without_replacement(
        cust.select("c_custkey", F.abs(F.col("c_acctbal")).alias("w")),
        "w",
        NODE_WSAMPLE_SPEC["k"],
        "c_custkey",
        seed=NODE_WSAMPLE_SPEC["seed"],
    ).select(
        F.lit("wsample").alias("mode"),
        "c_custkey",
        F.lit("sampled").alias("split"),
    )
    # ``budget`` mode (r11): budgeted selection through
    # ``operators/selection.budget_threshold_cut`` — the curation
    # primitive "take the best up to a WEIGHT budget": customers
    # ordered by c_acctbal DESC, each costing (c_custkey % 17) + 1
    # units, greedily kept while the cumulative cost stays ≤ budget.
    # Exact decimal cumulative weights, histogram-refinement boundary,
    # pure codegen filter (zero windows — plan-pinned in
    # tests/test_selection.py). The oracle replays the window-cumsum
    # definition in SQL — the two forms are set-equal by contract.
    from deep_db_learning_spark.operators.selection import (
        budget_threshold_cut,
    )

    bsel = budget_threshold_cut(
        cust.select(
            "c_custkey",
            F.col("c_acctbal").alias("key"),
            ((F.col("c_custkey") % 17) + 1).alias("w"),
        ),
        "key",
        "w",
        NODE_BUDGET_SPEC["budget"],
        "c_custkey",
    ).select(
        F.lit("budget").alias("mode"),
        "c_custkey",
        F.lit("selected").alias("split"),
    )
    # ``budgeta`` mode (r12 rotation, VERDICT r11 task 5): the SAME
    # budgeted cut under the OPPOSITE direction and a deliberately
    # TIE-HEAVY key — c_custkey % 7 has only seven distinct values, so
    # the histogram refinement collapses to a single tied key mass and
    # the boundary is decided entirely by the driver-side exact walk
    # in (key ASC, id ASC) order — the tie edge cases the r11 'budget'
    # mode (continuous DESC key) never reaches. Oracle: the same
    # window-cumsum definition, ascending.
    bsa = budget_threshold_cut(
        cust.select(
            "c_custkey",
            (F.col("c_custkey") % 7).alias("key"),
            ((F.col("c_custkey") % 5) + 1).alias("w"),
        ),
        "key",
        "w",
        NODE_BUDGETA_SPEC["budget"],
        "c_custkey",
        descending=False,
    ).select(
        F.lit("budgeta").alias("mode"),
        "c_custkey",
        F.lit("selected").alias("split"),
    )
    return (
        rand.unionByName(strat)
        .unionByName(folds)
        .unionByName(ws)
        .unionByName(bsel)
        .unionByName(bsa)
    )


# shared between q_node_split's wsample mode and its oracle builder —
# both engines draw under this config; any drift breaks the hash
NODE_WSAMPLE_SPEC = {"k": 120, "seed": 42}

# shared between q_node_split's budget mode and its oracle SQL
NODE_BUDGET_SPEC = {"budget": 6000}

# shared between q_node_split's budgeta mode (ascending, tie-heavy
# key) and its oracle SQL
NODE_BUDGETA_SPEC = {"budget": 2000}


def _wsample_oracle() -> str:
    """wsample mode of ``node_split``: the A-ES draw replayed in
    python over the exact (c_custkey, |c_acctbal|) rows read through
    DuckDB at build time — the identical portable md5 uniform and
    log-space key arithmetic as the engine — with the chosen ids
    inlined as a VALUES list (the SemDeDup/ivf_oracle pattern). The
    selected SET is a deterministic function of the data under the
    portable hash; libm ``log`` is the single cross-engine float in
    the key (the documented A-ES caveat)."""
    import hashlib
    import math

    import duckdb

    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    rows = con.execute(
        "SELECT c_custkey, abs(c_acctbal) FROM "
        f"read_parquet('{sf}/customer.parquet') "
        "WHERE c_acctbal IS NOT NULL AND abs(c_acctbal) > 0"
    ).fetchall()
    con.close()
    seed, k = NODE_WSAMPLE_SPEC["seed"], NODE_WSAMPLE_SPEC["k"]

    def key(cid, w):
        h = int(
            hashlib.md5(f"aes:{seed}:{cid}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / float(2**32)
        return math.log(u) / w

    chosen = sorted(
        rows, key=lambda t: (-key(t[0], float(t[1])), t[0])
    )[:k]
    vals = ", ".join(f"({int(c)})" for c, _w in chosen)
    return f"SELECT c_custkey FROM (VALUES {vals}) AS t(c_custkey)"


def q_attribution(spark, sf_dir):
    """Bench-only (r11): five-model multi-touch attribution over the
    whole events table — one binned range join (lookback-derived bin
    width), ONE sort + window pass (the descending rank is n + 1 − ra,
    not a second sort), and one grouped aggregate folding all five
    credit models in the same shuffle + a stack() unpivot. Timed
    first-class so the plan's cost stays visible round-over-round
    (the registry slot runs it merged with the asof/feature modes)."""
    db = _db(spark, sf_dir)
    from deep_db_learning_spark.operators.temporal import attribution

    return attribution(db.df("events"))


def q_wsample_select(spark, sf_dir):
    """Bench-only (r10): the scale-safe selection path under load —
    A-ES weighted sampling of k=5000 events ∝ |value| through
    ``operators/selection.topk_threshold_cut`` with a deliberately
    TIGHT ``collect_cap`` (4096), so the histogram-refinement rounds —
    the 100 TB shape — actually run instead of the small-frame collect
    shortcut. Times the probe jobs (count + histograms + boundary
    collect) AND the final filter; the returned plan itself is pinned
    window-free and single-partition-free in tests/test_selection.py."""
    from deep_db_learning_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    db = _db(spark, sf_dir)
    ev = db.df("events").select(
        "event_id", F.abs(F.col("value")).alias("w")
    )
    return weighted_sample_without_replacement(
        ev, "w", 5000, "event_id", n_bins=256, collect_cap=4096
    )


def q_bfs_depth2(spark, sf_dir):
    """J3/N28: BFS from customers 0-9, depth 2, both directions."""
    db = _db(spark, sf_dir)
    roots = db.df("customer").filter(F.col("c_custkey") < 10).select("c_custkey")
    return bfs_visited_counts(db.tables, db.foreign_keys, "customer", roots, 2)


# hand-pinned star schema for the constraints oracle — an independent
# spelling of the sidecar (kept as explicit literals, like the VALUES
# list this grew from; verify modes re-check each against the data)
_ORACLE_PKS = [
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("lineitem", "l_orderkey,l_linenumber"),
    ("nation", "n_nationkey"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("region", "r_regionkey"),
    ("supplier", "s_suppkey"),
]
_ORACLE_FKS = [
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]


# shared between q_constraints' driftm mode and its oracle builder —
# the monitored derived columns (SQL spelling in the oracle, Column
# spelling in the engine) and the frozen-cut bin count are the spec
DRIFTM_SPEC = {"n_bins": 6, "columns": ("holey", "v3", "value")}
_DRIFTM_SQL_COLS = {
    "value": "CAST(value AS DOUBLE)",
    "v3": "CAST(value * 3 + 100 AS DOUBLE)",
    "holey": "CAST(CASE WHEN event_id % 3 = 0 THEN value END AS DOUBLE)",
}


def _constraints_oracle() -> str:
    decl = []
    for t, pk in _ORACLE_PKS:
        cols = ",".join(sorted(pk.split(",")))
        decl.append(f"('{t}','pk','{cols}',NULL)")
    for t, c, rt, rc in _ORACLE_FKS:
        decl.append(f"('{t}','fk','{c}','{rt}({rc})')")
    pad = ("CAST(NULL AS DOUBLE) AS p_ref, CAST(NULL AS DOUBLE) AS p_cur, "
           "CAST(NULL AS DOUBLE) AS contrib")
    parts = [
        f"""
        SELECT 'decl' AS mode, table_name, kind, cols, ref,
               CAST(NULL AS BIGINT) AS n_rows,
               CAST(NULL AS BIGINT) AS n_keys,
               CAST(NULL AS BIGINT) AS n_bad,
               {pad}
        FROM (VALUES {', '.join(sorted(decl))}) AS t(table_name, kind, cols, ref)
        """
    ]
    for t, pk in _ORACLE_PKS:
        parts.append(f"""
        SELECT 'verify_pk', '{t}', 'pk', '{pk}', NULL,
               (SELECT count(*) FROM {t}),
               (SELECT count(*) FROM (SELECT 1 FROM {t} GROUP BY {pk})),
               (SELECT count(*) FROM (
                  SELECT 1 FROM {t} GROUP BY {pk} HAVING count(*) > 1)),
               {pad}
        """)
    for t, c, rt, rc in _ORACLE_FKS:
        parts.append(f"""
        SELECT 'verify_fk', '{t}', 'fk', '{c}', '{rt}',
               (SELECT count(*) FROM {t}), CAST(NULL AS BIGINT),
               (SELECT count(*) FROM {t} x
                WHERE x.{c} IS NOT NULL AND NOT EXISTS (
                  SELECT 1 FROM {rt} r WHERE r.{rc} = x.{c})),
               {pad}
        """)
    parts.append(_psi_oracle())
    parts.append(_driftm_oracle())
    return " UNION ALL ".join(parts)


def _psi_oracle() -> str:
    """PSI mode of the ``constraints`` slot: recompute the reference
    decile cuts (full-sort quantile twin) and the per-bin exact counts
    **independently in DuckDB** at oracle-build time, then replay the
    engine's driver-side float formula over those counts with python
    ``math.log`` and inline the results as literals — the
    ``_text_search_oracle`` idf recipe. The hash therefore pins the
    quantile cuts, the bin assignment, the counts, AND the PSI
    arithmetic (``profiling/validate.population_stability``)."""
    import math

    import duckdb

    from deep_db_learning_spark.operators.sketch import (
        dlit,
        exact_quantiles_oracle_sql,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    n_bins, epsilon = 10, 1e-6
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    halves = {
        "ref": "(SELECT * FROM events WHERE event_id % 2 = 0)",
        "cur": "(SELECT * FROM events WHERE event_id % 2 = 1)",
    }
    probs = [i / n_bins for i in range(1, n_bins)]
    cuts = [
        r[2]
        for r in con.execute(
            exact_quantiles_oracle_sql(halves["ref"], "value", probs)
        ).fetchall()
    ]
    bin_expr = " + ".join(
        f"CAST(CAST(value AS DOUBLE) > {dlit(float(c))} AS INT)" for c in cuts
    )
    counts = {}
    for side, tbl in halves.items():
        counts[side] = dict(
            con.execute(
                f"SELECT ({bin_expr}) AS b, count(*) AS n FROM {tbl} "
                f"WHERE value IS NOT NULL GROUP BY 1"
            ).fetchall()
        )
    con.close()
    n_ref = sum(counts["ref"].values())
    n_cur = sum(counts["cur"].values())
    rows = []
    for b in range(n_bins):
        nr = counts["ref"].get(b, 0)
        nc = counts["cur"].get(b, 0)
        pr = max(nr / n_ref, epsilon)
        pc = max(nc / n_cur, epsilon)
        contrib = (pc - pr) * math.log(pc / pr)
        rows.append(
            f"({b}, {nr}, {nc}, {dlit(pr)}, {dlit(pc)}, {dlit(contrib)})"
        )
    return f"""
        SELECT 'psi', 'events', 'psi', CAST(b AS VARCHAR), 'value',
               CAST(nr AS BIGINT), CAST(nc AS BIGINT),
               CAST(NULL AS BIGINT), pr, pc, contrib
        FROM (VALUES {', '.join(rows)}) AS t(b, nr, nc, pr, pc, contrib)
    """


def _driftm_oracle() -> str:
    """driftm mode of the ``constraints`` slot: for each monitored
    derived column, recompute the frozen equal-frequency cuts with the
    full-sort quantile twin over the even-event_id reference half,
    count the odd half's bins as a conditional-sum GROUP BY — both
    **independently in DuckDB** at oracle-build time — then replay the
    engine's driver-side uniform-reference PSI arithmetic
    (``streaming/quantile_hist._psi_from_counts``) with python
    ``math.log`` and inline the results as literals (the
    ``_psi_oracle`` recipe, once per column). Pins
    ``cut_drift_multi``'s one-scan multi-column binning, its NULL
    handling, and the shared float formula."""
    import math

    import duckdb

    from deep_db_learning_spark.operators.sketch import (
        dlit,
        exact_quantiles_oracle_sql,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    n_bins = DRIFTM_SPEC["n_bins"]
    epsilon = 1e-6
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    try:
        return _driftm_oracle_body(con, sf, n_bins, epsilon)
    finally:
        con.close()


def _driftm_oracle_body(con, sf: str, n_bins: int, epsilon: float) -> str:
    """Query loop of :func:`_driftm_oracle`, factored out so the
    connection close sits in one ``try/finally`` (a mid-loop DuckDB
    error must not leak the connection + events view)."""
    import math

    from deep_db_learning_spark.operators.sketch import (
        dlit,
        exact_quantiles_oracle_sql,
    )

    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    probs = [i / n_bins for i in range(1, n_bins)]
    rows = []
    for name in sorted(DRIFTM_SPEC["columns"]):
        expr = _DRIFTM_SQL_COLS[name]
        ref = (
            f"(SELECT {expr} AS v FROM events WHERE event_id % 2 = 0)"
        )
        cuts = [
            r[2]
            for r in con.execute(
                exact_quantiles_oracle_sql(ref, "v", probs)
            ).fetchall()
        ]
        bin_expr = " + ".join(
            f"CAST(v > {dlit(float(c))} AS INT)" for c in cuts
        )
        counts = dict(
            con.execute(
                f"SELECT ({bin_expr}) AS b, count(*) AS n "
                f"FROM (SELECT {expr} AS v FROM events "
                f"      WHERE event_id % 2 = 1) "
                f"WHERE v IS NOT NULL GROUP BY 1"
            ).fetchall()
        )
        n_cur = sum(counts.values())
        pr = 1.0 / n_bins
        for b in range(n_bins):
            nc = counts.get(b, 0)
            pc = max(nc / n_cur, epsilon) if n_cur else epsilon
            contrib = (pc - pr) * math.log(pc / pr)
            rows.append(
                f"('{b}', '{name}', {nc}, {dlit(pr)}, {dlit(pc)}, "
                f"{dlit(contrib)})"
            )
    return f"""
        SELECT 'driftm', 'events', 'drift', b, col,
               CAST(nc AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), pr, pc, contrib
        FROM (VALUES {', '.join(rows)}) AS t(b, col, nc, pr, pc, contrib)
    """


def _qhist_oracle() -> str:
    """qhist mode of the ``node_store`` slot: the mergeable per-key
    quantile histogram computed DIRECTLY in DuckDB SQL over the whole
    events table — the engine streams the same data through
    ``stream_grouped_hist`` in 4 RANDOM-order micro-batches, so the
    hash match proves the streaming state is a function of the data
    multiset alone (integer vector merge is commutative). Cut points
    are recomputed here by the full-sort quantile twin (the engine's
    come from the no-sort path) and inlined as literals."""
    import duckdb

    from deep_db_learning_spark.operators.sketch import (
        exact_quantiles_oracle_sql,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR
    from deep_db_learning_spark.streaming.quantile_hist import (
        grouped_hist_oracle_sql,
    )

    n_bins = 8
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    probs = [i / n_bins for i in range(1, n_bins)]
    cuts = [
        r[2]
        for r in con.execute(
            exact_quantiles_oracle_sql("events", "value", probs)
        ).fetchall()
    ]
    con.close()
    hist = grouped_hist_oracle_sql("events", "user_id", "value", cuts)
    # two modes off the same whole-table histogram: ``qhist`` twins the
    # random-micro-batch stream, ``qmerge`` (r11) twins the engine's
    # merge of the two event_id-parity halves — the direct whole-table
    # rows ARE the merge operator's contract, merge(hist(A), hist(B))
    # ≡ hist(A ∪ B)
    selects = []
    for mode in ("qhist", "qmerge"):
        selects.append(f"""
        SELECT '{mode}' AS mode, user_id,
               counts[CAST(i AS INT)] AS n_events,
               CAST(n AS DOUBLE) AS sum_value,
               CAST(NULL AS TIMESTAMP) AS last_ts,
               CAST(i - 1 AS VARCHAR) AS event_type,
               CAST(NULL AS DOUBLE) AS value,
               CAST(NULL AS TIMESTAMP) AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to
        FROM ({hist}),
             unnest(generate_series(1, {len(cuts) + 1})) AS s(i)""")
    return "\nUNION ALL\n".join(selects)


def _semdedup_oracle() -> str:
    """semdedup mode of ``embedding_neardup``: the deterministic
    clustering re-fit by the SHARED ``ivf_fit_assign`` numpy/decimal
    twin (assignments inlined as VALUES — the ann_ivf pattern), then
    the identical greedy in-cluster scan in DuckDB SQL. ``sf_dir=None``
    reads SPARK_GRAFT_ORACLE_SF at build time like every other
    builder."""
    from deep_db_learning_spark.operators.semdedup import (
        semantic_dedup_oracle_sql,
    )

    return semantic_dedup_oracle_sql(0.30, sf_dir=None)


def q_constraints(spark, sf_dir):
    """S3/S4 + r7 validation, mode-tagged: ``decl`` — PK + FK
    constraint listing from the catalog sidecar (table_name, kind,
    cols, ref; the oracle pins the star schema as a hand-written VALUES
    literal — an independent spelling of the same constraints);
    ``verify_pk`` / ``verify_fk`` — the constraints VERIFIED against
    the data (``profiling/validate.py``): duplicate-PK-group and
    FK-orphan counts per declared constraint (aggregate/anti-join
    shapes, one pass each). The composite lineitem PK is genuinely
    violated by the synthetic generator — the driver hash pins the
    checker catching it (n_dup > 0), not a vacuous all-green.

    ``psi`` (r9 rotation) — Population Stability Index drift check
    (``validate.population_stability``): events.value split by
    event_id parity into reference/current halves, binned by the
    reference's exact equal-frequency decile cuts; one row per bin
    with exact counts (``n_rows``/``n_keys`` carry n_ref/n_cur,
    ``cols`` the bin index) and the python-log contributions (the BM25
    idf literal recipe — the oracle recomputes cuts by full sort and
    counts in DuckDB, then replays the identical driver-side float
    formula, so the hash pins both the binning and the arithmetic).

    ``driftm`` (r12 rotation) — the MULTI-column one-scan drift
    monitor (``streaming/quantile_hist.cut_drift_multi``, VERDICT r11
    task 5): three derived events columns (value, an affine shift, a
    NULL-holey projection) binned by their frozen equal-frequency
    6-bin reference cuts fitted on the even-event_id half, scored over
    the odd half in ONE aggregate — one row per (column, bin) with the
    exact n_cur count, the uniform p_ref, p_cur, and the python-log
    PSI contribution. The oracle recomputes the cuts with the
    full-sort quantile twin and the per-(column, bin) counts as
    conditional-sum GROUP BYs in DuckDB, then replays the identical
    driver float formula — pinning the multi-column binning, the
    NULL handling, and the arithmetic."""
    from deep_db_learning_spark.profiling.validate import (
        check_foreign_keys,
        check_primary_keys,
        population_stability,
    )

    db = _db(spark, sf_dir)
    rows = []
    for t in sorted(db.get_tables()):
        pk = sorted(db.get_primary_key(t))
        if pk:
            rows.append((t, "pk", ",".join(pk), None))
        for fk in db.get_foreign_keys(t):
            rows.append(
                (t, "fk", ",".join(fk.columns), f"{fk.ref_table}({','.join(fk.ref_columns)})")
            )
    def psi_pad():
        return [
            F.lit(None).cast("double").alias("p_ref"),
            F.lit(None).cast("double").alias("p_cur"),
            F.lit(None).cast("double").alias("contrib"),
        ]

    decl = spark.createDataFrame(
        rows, "table_name string, kind string, cols string, ref string"
    ).select(
        F.lit("decl").alias("mode"),
        "table_name", "kind", "cols", "ref",
        F.lit(None).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_keys"),
        F.lit(None).cast("long").alias("n_bad"),
        *psi_pad(),
    )
    vpk = check_primary_keys(db).select(
        F.lit("verify_pk").alias("mode"),
        F.col("table").alias("table_name"),
        F.lit("pk").alias("kind"),
        F.col("pk_cols").alias("cols"),
        F.lit(None).cast("string").alias("ref"),
        "n_rows", "n_keys",
        F.col("n_dup_keys").alias("n_bad"),
        *psi_pad(),
    )
    vfk = check_foreign_keys(db).select(
        F.lit("verify_fk").alias("mode"),
        F.col("table").alias("table_name"),
        F.lit("fk").alias("kind"),
        F.col("fk_cols").alias("cols"),
        F.col("ref_table").alias("ref"),
        "n_rows",
        F.lit(None).cast("long").alias("n_keys"),
        F.col("n_orphans").alias("n_bad"),
        *psi_pad(),
    )
    ev = db.df("events")
    per_bin, _total = population_stability(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        n_bins=10,
    )
    psi = per_bin.select(
        F.lit("psi").alias("mode"),
        F.lit("events").alias("table_name"),
        F.lit("psi").alias("kind"),
        F.col("bin").cast("string").alias("cols"),
        F.lit("value").alias("ref"),
        F.col("n_ref").alias("n_rows"),
        F.col("n_cur").alias("n_keys"),
        F.lit(None).cast("long").alias("n_bad"),
        "p_ref", "p_cur", "contrib",
    )
    from deep_db_learning_spark.streaming.quantile_hist import (
        cut_drift_multi,
        reference_cuts,
    )

    def _dm_derived(f):
        return f.select(
            F.col("value").cast("double").alias("value"),
            (F.col("value") * 3 + 100).cast("double").alias("v3"),
            F.when(F.col("event_id") % 3 == 0, F.col("value"))
            .cast("double")
            .alias("holey"),
        )

    dm_ref = _dm_derived(ev.filter(F.col("event_id") % 2 == 0))
    dm_cur = _dm_derived(ev.filter(F.col("event_id") % 2 == 1))
    cut_sets = {
        c: reference_cuts(dm_ref, c, n_bins=DRIFTM_SPEC["n_bins"])
        for c in DRIFTM_SPEC["columns"]
    }
    dm = cut_drift_multi(dm_cur, cut_sets)
    drows = []
    for c in sorted(cut_sets):
        _psi_total, per = dm[c]
        for b, nc, pc, contrib in per:
            drows.append(
                (
                    "driftm", "events", "drift", str(b), c,
                    int(nc), None, None,
                    1.0 / DRIFTM_SPEC["n_bins"], float(pc), float(contrib),
                )
            )
    driftm = spark.createDataFrame(
        drows,
        "mode string, table_name string, kind string, cols string, "
        "ref string, n_rows bigint, n_keys bigint, n_bad bigint, "
        "p_ref double, p_cur double, contrib double",
    )
    return (
        decl.unionByName(vpk)
        .unionByName(vfk)
        .unionByName(psi)
        .unionByName(driftm)
    )


def q_db_copy_row_pick(spark, sf_dir):
    """S8/S9/S12 + P6/O1 merged: bulk columnar DB copy (replacing the
    reference's row-by-row SQLite insert) — save two tables to a local
    Parquet store, load the store back, then positional row-pick on the
    reloaded table (the reference's ``get(idx)`` addressing: dense
    positional ids over the pk order + an id-set filter — the one
    global-sort path, export/parity only, documented in graph.py). The
    oracle is the original table, proving both the lossless round-trip
    and the positional semantics."""
    import tempfile

    from deep_db_learning_spark.operators.graph import mint_node_ids
    from deep_db_learning_spark.sources import Database

    db = _db(spark, sf_dir)
    sub = db.filter_tables(include=["region", "nation"])
    path = tempfile.mkdtemp(prefix="store_roundtrip_")
    sub.save(path)
    back = Database.load(spark, path, tables=["region", "nation"])
    nodes, kind = mint_node_ids(
        back.df("nation"), ["n_nationkey"], mode="positional"
    )
    if kind != "positional":
        raise RuntimeError(f"expected positional node ids, got {kind!r}")
    picks = [0, 5, 10, 15, 20]
    return nodes.filter(F.col("node_id").isin(picks)).select(
        F.col("node_id").alias("pos"), "n_nationkey", "n_name", "n_regionkey"
    )


def q_events_time_convert(spark, sf_dir):
    """F5/F6/F8/F9 merged: time-of-day decomposition (epoch seconds +
    seconds-since-midnight), day-time-interval → fractional seconds
    (``ts − midnight`` as a genuine INTERVAL column), and the pandas
    ns-epoch bound clamp (every 5th event shifted +300 years so the hi
    bound actually fires) — one events scan."""
    from deep_db_learning_spark.functions.datetime_funcs import (
        clamp_to_pandas_bounds,
        duration_seconds,
        epoch_seconds,
        seconds_since_midnight,
    )

    db = _db(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    shifted = F.when(
        F.col("event_id") % 5 == 0, F.col("ts") + F.expr("INTERVAL 300 YEARS")
    ).otherwise(F.col("ts"))
    return db.df("events").select(
        "event_id",
        epoch_seconds(ts).alias("epoch_s"),
        seconds_since_midnight(ts).alias("ssm"),
        duration_seconds(ts - F.date_trunc("day", ts)).alias("since_midnight_secs"),
        clamp_to_pandas_bounds(shifted.cast("timestamp")).alias("ts_clamped"),
    )


def q_constant_columns(spark, sf_dir):
    """P3 skip_if_allsame: retained columns of part + one injected
    constant column (which must be the only drop)."""
    from deep_db_learning_spark.functions.convert import drop_constant_columns

    db = _db(spark, sf_dir)
    df = db.df("part").withColumn("const_marker", F.lit(1))
    kept = drop_constant_columns(df).columns
    return spark.createDataFrame([(c,) for c in sorted(kept)], "column_name string")


def q_cardinality_reconcile(spark, sf_dir):
    """A5: walk the normalizer registry until the distinct count matches
    the declared cardinality; emit (normalizer, value, code)."""
    from deep_db_learning_spark.functions.encode import reconcile_cardinality

    db = _db(spark, sf_dir)
    name, codes = reconcile_cardinality(db.df("customer"), "c_mktsegment", 5)
    return codes.select(F.lit(name).alias("normalizer"), "value", "code")


def q_impute_acctbal(spark, sf_dir):
    """N5 mean imputation. The testdata ships no NULLs, so the query
    deterministically nulls c_acctbal where c_custkey % 7 = 0 and then
    imputes with the exact-decimal mean of the surviving values — the
    same coalesce pass `impute_values` applies from profiler stats."""
    from deep_db_learning_spark.functions.exact_agg import DECIMAL_TYPE
    from deep_db_learning_spark.operators.embedder import impute_values

    db = _db(spark, sf_dir)
    cust = db.df("customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    m = cust.agg(
        (F.sum(F.col("bal").cast(DECIMAL_TYPE)).cast("double") / F.count("bal")).alias("m")
    ).first()["m"]
    return impute_values(cust, {"bal": ("mean", m)}).select(
        "c_custkey", F.col("bal").alias("bal_imputed")
    )


def q_message_mean_conv(spark, sf_dir):
    """A6 + N7 merged: one mean/sum/min/max message-aggregation layer
    orders→customer (left-joined so order-less customers keep NULL
    messages) plus the MeanAddConv combination ``x_dst + mean(x_src)``.
    The conv operator is homogeneous (one node-feature frame spans both
    endpoints), so the orders side is lifted into the customer id space
    with an offset — conv = c_acctbal + mean(o_totalprice of the
    customer's orders)."""
    from deep_db_learning_spark.operators.message_passing import mean_add_conv

    OFF = 10_000_000
    db = _db(spark, sf_dir)
    feats = db.df("customer").select(
        F.col("c_custkey").alias("node_id"), F.col("c_acctbal").alias("feat")
    ).unionByName(
        db.df("orders").select(
            (F.col("o_orderkey") + OFF).alias("node_id"),
            F.col("o_totalprice").alias("feat"),
        )
    )
    edges = db.df("orders").select(
        (F.col("o_orderkey") + OFF).alias("src"), F.col("o_custkey").alias("dst")
    )
    conv = mean_add_conv(edges, feats, ["feat"]).filter(F.col("dst") < OFF).select(
        F.col("dst").alias("c_custkey"), F.col("conv_feat").alias("conv")
    )
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    agg = g.aggregate_along_edge(
        "orders__o_custkey__customer",
        ["o_totalprice"],
        ["mean", "sum", "min", "max"],
    ).select(
        F.col("dst").alias("c_custkey"),
        F.col("mean_o_totalprice").alias("mean_price"),
        F.col("sum_o_totalprice").alias("sum_price"),
        F.col("min_o_totalprice").alias("min_price"),
        F.col("max_o_totalprice").alias("max_price"),
        F.col("degree").alias("n_orders"),
    )
    return conv.join(agg, "c_custkey", "left")


def q_eval_metrics(spark, sf_dir):
    """N24: classification + regression metrics as one-pass exact
    aggregations, on deterministic rule-based predictors (modal segment
    per nation; global-mean price) so the whole metric set is
    oracle-checkable bit-for-bit.

    r10 adds exact distributed ROC-AUC (`plans/metrics.binary_auc` —
    Mann-Whitney with integer midranks over a two-phase rank, no
    global-rank window) of o_totalprice as a score for
    o_orderstatus='F': the BIGINT aggregates are exact, the one float
    division is replayed identically by the oracle (`binary_auc_sql` +
    the same division in SQL doubles — every operand exact below
    2^53).

    r11 adds expected calibration error
    (`plans/metrics.expected_calibration_error`) of the min-max
    normalized price as a probability of the same label —
    equal-frequency bins at exact score quantiles, exact per-bin
    folds, the shared ascending-bin fold; the oracle replays the whole
    read at build time and inlines the literal."""
    from deep_db_learning_spark.functions.exact_agg import DECIMAL_TYPE
    from deep_db_learning_spark.plans.metrics import (
        binary_auc,
        classification_metrics_df,
        regression_metrics_df,
    )
    from pyspark.sql.window import Window

    db = _db(spark, sf_dir)
    cust = db.df("customer")
    counts = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("cnt"), F.col("c_mktsegment"))
    modal = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("prediction"))
    )
    cls = cust.select("c_nationkey", F.col("c_mktsegment").alias("label")).join(
        F.broadcast(modal), "c_nationkey"
    )
    cm = classification_metrics_df(cls)

    orders = db.df("orders")
    mean_tp = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast(DECIMAL_TYPE)).cast("double")
            / F.count("o_totalprice")
        ).alias("m")
    ).first()["m"]
    rm = regression_metrics_df(
        orders.select(
            F.col("o_totalprice").alias("label"), F.lit(mean_tp).alias("prediction")
        )
    )
    auc = binary_auc(
        orders.select(
            "o_totalprice",
            (F.col("o_orderstatus") == "F").cast("int").alias("__y"),
        ),
        "o_totalprice",
        "__y",
    )
    # r11: expected calibration error of the min-max-normalized price
    # as a "probability" of o_orderstatus='F' — equal-frequency bins
    # at exact score quantiles, exact per-bin folds, the shared
    # ascending-bin ECE fold driver-side (`plans/metrics.ece_from_bins`
    # — the oracle replays the same function over DuckDB-read bins at
    # oracle-build time and inlines the literal). The min/max come
    # from one exact agg; the normalization is the same IEEE ops on
    # identical operands in both engines.
    from deep_db_learning_spark.plans.metrics import (
        expected_calibration_error,
    )

    lo, hi = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    prob = orders.select(
        (
            (F.col("o_totalprice") - F.lit(float(lo)))
            / F.lit(float(hi - lo))
        ).alias("__p"),
        (F.col("o_orderstatus") == "F").cast("int").alias("__y"),
    )
    ece = expected_calibration_error(prob, "__p", "__y", n_bins=8)
    return (
        cm.select("accuracy", F.col("n").alias("n_cls"))
        .crossJoin(rm.select("mse", "mae", "nrmse", F.col("n").alias("n_reg")))
        .withColumn("auc", F.lit(float(auc)))
        .withColumn("ece", F.lit(float(ece)))
    )


def q_train_relational(spark, sf_dir):
    """N20/N21/N24 trainable path, FIVE task/loop shapes: seeded
    full-batch GD classification, the reference's actual loop —
    minibatch SGD over budgeted per-root subgraphs (HGTLoader parity:
    neighbor fan-out cap + batched seed nodes,
    ``experiments/blueprint_mlflow.py:119-133``) — the REGRESSION
    task branch (``TaskType.REGRESSION``/``MSELoss``,
    ``nn/lightning/lightning_wrapper.py:40,50-55``: k=1 linear head,
    half-squared error, train-standardized c_acctbal label), and the
    trained DEEP stacks (plans/stack.py — the reference's
    arbitrary-depth blueprint backprop, ``nn/models/blueprint.py:24
    -214``): the depth-2 customer←orders shape (``two_layer``) and the
    depth-3 customer←orders←lineitem stack (``three_layer``) —
    over the cat embedding table + linear decoder (plans/training.py).
    Returns the per-epoch/per-step train losses, mode-tagged — each
    trajectory bit-deterministic (decimal-fold gradients, portable-hash
    batches), the contract a training engine must hold. ORACLE-CHECKED:
    gradient descent is iterative (not one SQL query), but the
    determinism makes both trajectories recomputable — the oracle is an
    independent numpy/decimal twin (plans/train_oracle.py) run on the
    same parquet and pinned as a VALUES literal at check time. The
    trajectories are additionally pinned by goldens in
    tests/test_training.py."""
    from deep_db_learning_spark.plans.stack import (
        THREE_LAYER_BENCH_CONFIG,
        THREE_LAYER_SPECS,
        train_relational_stack,
    )
    from deep_db_learning_spark.plans.training import (
        MINIBATCH_BENCH_CONFIG,
        REGRESSION_BENCH_CONFIG,
        TWO_LAYER_BENCH_CONFIG,
        train_relational_classifier,
        train_relational_minibatch,
        train_relational_regressor,
        train_relational_two_layer,
    )

    db = _db(spark, sf_dir)
    full = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys, epochs=8, seed=42
    )
    mb = train_relational_minibatch(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        seed=42,
        **MINIBATCH_BENCH_CONFIG,
    )
    reg = train_relational_regressor(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        seed=42,
        **REGRESSION_BENCH_CONFIG,
    )
    # depth-2 end-to-end backprop: tanh layer over each root's orders
    # (with a lineitem decimal-fold feature — a genuine 2-hop receptive
    # field), mean-aggregated into the head; BOTH weight matrices
    # trained through the aggregation (plans/training.py §two-layer)
    two = train_relational_two_layer(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        seed=42,
        **TWO_LAYER_BENCH_CONFIG,
    )
    # depth-3 end-to-end backprop (r5): customer <- orders <- lineitem
    # declared as EdgeLayerSpec rows — three embedding tables and both
    # hidden weight matrices trained through TWO stacked decimal-fold
    # aggregations (the reference's layers=2 configuration,
    # experiments/blueprint_mlflow.py:53; plans/stack.py)
    three = train_relational_stack(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        layers=THREE_LAYER_SPECS,
        seed=42,
        **THREE_LAYER_BENCH_CONFIG,
    )
    # TabNet decision head over the assembled root frame (r6): frozen
    # seeded encoder (fixed-order kernel, batch-independent), in-engine
    # decimal-fold GD on the head; twin plans/train_oracle.py
    from deep_db_learning_spark.plans.tabnet_head import (
        TABNET_HEAD_BENCH_CONFIG,
        TROMPT_HEAD_BENCH_CONFIG,
        train_tabnet_head,
        train_trompt_head,
    )

    tab = train_tabnet_head(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        seed=42,
        **TABNET_HEAD_BENCH_CONFIG,
    )
    # Trompt decision head, same pattern (r6): frozen seeded
    # prompt-bank encoder over per-column embeddings, mean-pooled,
    # decimal-fold head GD; twin _trompt_head_losses
    tro = train_trompt_head(
        db.tables,
        db.primary_keys,
        db.foreign_keys,
        seed=42,
        **TROMPT_HEAD_BENCH_CONFIG,
    )
    rows = (
        [("full", i, float(l)) for i, l in enumerate(full.losses)]
        + [("minibatch", i, float(l)) for i, l in enumerate(mb.losses)]
        + [("regression", i, float(l)) for i, l in enumerate(reg.losses)]
        + [("two_layer", i, float(l)) for i, l in enumerate(two.losses)]
        + [("three_layer", i, float(l)) for i, l in enumerate(three.losses)]
        + [("tabnet", i, float(l)) for i, l in enumerate(tab.losses)]
        + [("trompt", i, float(l)) for i, l in enumerate(tro.losses)]
    )
    return spark.createDataFrame(rows, "mode string, epoch int, train_loss double")


def q_bfs_per_root(spark, sf_dir):
    """J3/N28 minibatch shape: per-root BFS subgraphs — visited counts
    per (root, table) for customers 0-9 at depth 2, one job for all
    roots (reference ``get(idx)`` re-runs BFS per sample row,
    ``data/dataset.py:249-258``)."""
    from deep_db_learning_spark.operators.bfs import bfs_visited_counts_per_root

    db = _db(spark, sf_dir)
    roots = db.df("customer").filter(F.col("c_custkey") < 10).select("c_custkey")
    return bfs_visited_counts_per_root(
        db.tables, db.foreign_keys, "customer", roots, 2, db.primary_keys
    )


def q_bfs_per_root_and_global(spark, sf_dir):
    """The driver slot for the BFS family (r14 rotation): the
    per-root minibatch shape (:func:`q_bfs_per_root` — bench keeps
    timing the narrower paths so cross-round timing stays comparable)
    plus ``global`` — the whole-frontier depth-2 BFS
    (:func:`q_bfs_depth2`, previously bench-only; ``root_id`` is
    NULL, counts are distinct visited rows per table)."""
    per = q_bfs_per_root(spark, sf_dir).select(
        F.lit("per_root").alias("mode"), "root_id", "table_name", "n_visited"
    )
    glob = q_bfs_depth2(spark, sf_dir).select(
        F.lit("global").alias("mode"),
        F.lit(None).cast("bigint").alias("root_id"),
        "table_name",
        "n_visited",
    )
    return per.unionByName(glob)


def q_message_mean(spark, sf_dir):
    """A6/N7/N11: one mean/sum/count aggregation layer orders→customer."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    agg = g.aggregate_along_edge(
        "orders__o_custkey__customer",
        ["o_totalprice"],
        ["mean", "sum", "min", "max"],
    )
    return agg.select(
        F.col("dst").alias("c_custkey"),
        F.col("mean_o_totalprice").alias("mean_price"),
        F.col("sum_o_totalprice").alias("sum_price"),
        F.col("min_o_totalprice").alias("min_price"),
        F.col("max_o_totalprice").alias("max_price"),
        F.col("degree").alias("n_orders"),
    )


def q_message_2hop(spark, sf_dir):
    """N13×2: two-layer receptive field — lineitem stats per order, then
    aggregated per customer."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    li_per_order = g.aggregate_along_edge(
        "lineitem__l_orderkey__orders",
        ["l_quantity"],
        ["sum"],
    ).select(F.col("dst").alias("node_id"), F.col("sum_l_quantity").alias("qty"))
    # second hop fuses too: (o_orderkey, o_custkey) ⋈ per-order aggs →
    # groupBy custkey → semi customer — the dst check never touches the
    # fact-sized frame
    per_cust = g.aggregate_along_edge(
        "orders__o_custkey__customer", ["qty"], ["sum", "mean"],
        features=li_per_order,
    )
    return per_cust.select(
        F.col("dst").alias("c_custkey"),
        F.col("sum_qty").alias("sum_qty"),
        F.col("mean_qty").alias("mean_qty"),
        F.col("degree").alias("n_orders_with_items"),
    )


def q_attention_aggregate(spark, sf_dir):
    """A7/N10: softmax-attention aggregation (SQL exp-trick form)."""
    db = _db(spark, sf_dir)
    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    edges = g.edges["orders__o_custkey__customer"].join(
        g.nodes["orders"].select(
            F.col("node_id").alias("src"),
            (F.col("o_totalprice") / 100000.0).alias("score"),
            F.col("o_totalprice").alias("price"),
        ),
        "src",
    )
    out = softmax_attention_sql(edges, ["price"], score="score", round_to=3)
    return out.select(F.col("dst").alias("c_custkey"), F.col("attn_price"))


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: pricing summary (generic agg/sort capability)."""
    db = _db(spark, sf_dir)
    li = db.df("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp_ntz"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q1_modes(spark, sf_dir):
    """The driver slot for the scan-aggregate family (r12 rotation):
    everything :func:`q_tpch_q1` carries (bench times THAT path) plus
    ``q12`` shipping-priority histogram (conditional-count CASE pair;
    count_order/count2 carry high/low line counts) and ``q13``
    customer order-count distribution (LEFT join with the predicate ON
    the join, zero-order customers in the c_count=0 bucket —
    count_order carries custdist, count2 the c_count bucket) from
    ``plans/tpch_suite`` — both previously pytest-only, now
    driver-hashed."""
    from deep_db_learning_spark.plans import tpch_suite

    db = _db(spark, sf_dir)
    dnull = [
        F.lit(None).cast("double").alias(c)
        for c in ("sum_qty", "sum_base_price", "sum_disc_price",
                  "avg_qty", "avg_disc")
    ]
    base = q_tpch_q1(spark, sf_dir).select(
        F.lit("q1").alias("mode"),
        "l_returnflag", "l_linestatus",
        "sum_qty", "sum_base_price", "sum_disc_price",
        "avg_qty", "avg_disc",
        F.col("count_order").cast("bigint").alias("count_order"),
        F.lit(None).cast("bigint").alias("count2"),
    )
    q12 = tpch_suite.tpch_q12(db).select(
        F.lit("q12").alias("mode"),
        "l_returnflag",
        F.lit(None).cast("string").alias("l_linestatus"),
        *dnull,
        F.col("high_line_count").cast("bigint").alias("count_order"),
        F.col("low_line_count").cast("bigint").alias("count2"),
    )
    q13 = tpch_suite.tpch_q13(db).select(
        F.lit("q13").alias("mode"),
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        *dnull,
        F.col("custdist").cast("bigint").alias("count_order"),
        F.col("c_count").cast("bigint").alias("count2"),
    )
    # r13 rotation: Q16 supplier-count-per-part-attribute (NOT IN
    # complaints anti-join + count-distinct rollup) — l_returnflag/
    # l_linestatus carry brand/type, count_order the supplier count,
    # count2 the size
    q16 = tpch_suite.tpch_q16(db).select(
        F.lit("q16").alias("mode"),
        F.col("p_brand").alias("l_returnflag"),
        F.col("p_type").alias("l_linestatus"),
        *dnull,
        F.col("supplier_cnt").cast("bigint").alias("count_order"),
        F.col("p_size").cast("bigint").alias("count2"),
    )
    return base.unionByName(q12).unionByName(q13).unionByName(q16)


def q_tpch_q6_core(db):
    """The pure Q6 filter+aggregate (plan-pinned: all three predicates
    pushed to the parquet scan, 4-column ReadSchema)."""
    li = db.df("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H scalar shapes, mode-tagged (r7 rotation pattern): ``q6``
    pure filter+aggregate (the predicate-pushdown showcase — all three
    filters reach the parquet scan), plus the Q14 promo-revenue ratio
    and Q17 small-quantity correlated-average threshold from
    ``plans/tpch_suite`` — each a single driver-hashed double. r13
    adds Q19's disjunctive (brand, size-band, quantity-band) revenue
    (the common envelopes push to the scans, part side broadcast)."""
    from deep_db_learning_spark.plans import tpch_suite

    db = _db(spark, sf_dir)
    q6 = q_tpch_q6_core(db)
    return (
        q6.select(F.lit("q6_revenue").alias("query"), F.col("revenue").alias("value"))
        .unionByName(
            q6.select(
                F.lit("q6_rows").alias("query"),
                F.col("n_rows").cast("double").alias("value"),
            )
        )
        .unionByName(
            tpch_suite.tpch_q14(db).select(
                F.lit("q14_promo").alias("query"),
                F.col("promo_revenue").alias("value"),
            )
        )
        .unionByName(
            tpch_suite.tpch_q17(db).select(
                F.lit("q17_avg_yearly").alias("query"),
                F.col("avg_yearly").alias("value"),
            )
        )
        .unionByName(
            tpch_suite.tpch_q19(db).select(
                F.lit("q19_revenue").alias("query"),
                F.col("revenue").alias("value"),
            )
        )
    )


def q_top_orders_per_customer(spark, sf_dir):
    """O-family extension (no top-k in reference): deterministic top-3
    orders by totalprice per customer — one row_number window, single
    shuffle on the group key, no global sort."""
    from deep_db_learning_spark.operators.sampling import top_k_per_group

    db = _db(spark, sf_dir)
    return top_k_per_group(
        db.df("orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        group_by="o_custkey",
        order_by="o_totalprice",
        k=3,
        tiebreak="o_orderkey",
        rank_col="rank",
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H top-k shapes, mode-tagged (r7 rotation pattern): ``q18``
    HAVING-filtered aggregate subquery joined back to orders/customer,
    deterministic top-100 (threshold scaled to the synthetic data's
    line counts); ``q10`` returned-item top-20 customers by lost
    revenue (``plans/tpch_suite``), NULL-padded to the shared schema."""
    db = _db(spark, sf_dir)
    big = (
        db.df("lineitem")
        .groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    j = (
        db.df("orders")
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(db.df("customer"), F.col("o_custkey") == F.col("c_custkey"))
    )
    q18 = (
        j.select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            F.lit("q18").alias("mode"),
            "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty",
            F.lit(None).cast("string").alias("c_name"),
            F.lit(None).cast("double").alias("c_acctbal"),
            F.lit(None).cast("string").alias("n_name"),
            F.lit(None).cast("double").alias("revenue"),
        )
    )
    from deep_db_learning_spark.plans import tpch_suite

    q10 = tpch_suite.tpch_q10(db).select(
        F.lit("q10").alias("mode"),
        "c_custkey",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("double").alias("sum_qty"),
        "c_name", "c_acctbal", "n_name", "revenue",
    )
    return q18.unionByName(q10)


def q_tpch_q18_modes(spark, sf_dir):
    """The driver slot for the TPC-H join shapes (r8): everything
    :func:`q_tpch_q18` carries (bench times THAT narrower path so the
    cross-round timing stays comparable — the q_customer_features
    pattern) plus ``q2`` minimum-cost supplier (correlated MIN over
    the derived part-supplier catalog, decorrelated to a broadcast
    per-part aggregate; c_custkey carries p_partkey, c_name s_name,
    c_acctbal s_acctbal, revenue the min supply cost) and ``q21``
    suppliers-who-kept-orders-waiting (EXISTS + NOT EXISTS chain as
    semi + anti joins; c_name carries s_name, sum_qty the wait
    count). r14 adds ``topk`` — the deterministic per-group top-k
    window shape (q_top_orders_per_customer, previously bench-only;
    sum_qty carries the rank)."""
    from deep_db_learning_spark.plans import tpch_suite

    db = _db(spark, sf_dir)
    base = q_tpch_q18(spark, sf_dir)
    q2 = tpch_suite.tpch_q2(db).select(
        F.lit("q2").alias("mode"),
        F.col("p_partkey").alias("c_custkey"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("double").alias("sum_qty"),
        F.col("s_name").alias("c_name"),
        F.col("s_acctbal").alias("c_acctbal"),
        "n_name",
        F.col("ps_supplycost").alias("revenue"),
    )
    q21 = tpch_suite.tpch_q21(db).select(
        F.lit("q21").alias("mode"),
        F.lit(None).cast("long").alias("c_custkey"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("numwait").cast("double").alias("sum_qty"),
        F.col("s_name").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast("double").alias("revenue"),
    )
    # r13 rotation: Q20 dominant-supplier promotion (nested per-pair /
    # per-part quantity-share aggregate gating a region-filtered semi
    # join; c_custkey carries s_suppkey, c_name s_name)
    q20 = tpch_suite.tpch_q20(db).select(
        F.lit("q20").alias("mode"),
        F.col("s_suppkey").cast("long").alias("c_custkey"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("double").alias("sum_qty"),
        F.col("s_name").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast("double").alias("revenue"),
    )
    # r14 rotation: the per-group top-k window shape
    # (q_top_orders_per_customer, previously bench-only) — c_custkey
    # carries o_custkey, sum_qty the in-group rank
    topk = q_top_orders_per_customer(spark, sf_dir).select(
        F.lit("topk").alias("mode"),
        F.col("o_custkey").cast("long").alias("c_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("rank").cast("double").alias("sum_qty"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast("double").alias("revenue"),
    )
    return (
        base.unionByName(q2)
        .unionByName(q21)
        .unionByName(q20)
        .unionByName(topk)
    )


def q_lineitem_numeric_profile(spark, sf_dir):
    """A10 extension: one-scan numeric summary stats (n/mean/min/max/
    std) for lineitem's measure columns — exact decimal folds make the
    doubles engine- and partitioning-independent."""
    from deep_db_learning_spark.profiling.profiler import numeric_stats

    db = _db(spark, sf_dir)
    return numeric_stats(
        db.df("lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q_lineitem_numeric_profile_modes(spark, sf_dir):
    """The driver slot for the numeric profiler (r8): the one-scan
    summary stats (mode ``stats``; bench times that core path via
    :func:`q_lineitem_numeric_profile`) plus mode ``corr`` — pairwise-
    complete Pearson correlations of the same measures in ONE scan
    (``profiling/profiler.pairwise_correlations``: decimal-fold sums,
    FACTOR-cast decimal cross-products — the tpch_q11 lesson — and
    double arithmetic mirrored term-for-term by the oracle); plus mode
    ``skew`` (r9 rotation) — the pre-join key-skew report on
    l_suppkey (``profiler.key_skew_report``: top-k heavy keys, row
    share, skew factor vs the uniform mean — one groupBy + sort-limit;
    ``col_b`` carries the stringified key value)."""
    from deep_db_learning_spark.profiling.profiler import (
        key_skew_report,
        pairwise_correlations,
    )

    db = _db(spark, sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def tail(rank=None, share=None, skew_factor=None):
        return [
            (F.lit(None).cast("int") if rank is None else F.col(rank)).alias("rank"),
            (F.lit(None).cast("double") if share is None else F.col(share)).alias("share"),
            (F.lit(None).cast("double") if skew_factor is None else F.col(skew_factor)).alias("skew_factor"),
        ]

    stats = q_lineitem_numeric_profile(spark, sf_dir).select(
        F.lit("stats").alias("mode"),
        "column_name",
        F.lit(None).cast("string").alias("col_b"),
        "n", "mean", "min", "max", "std",
        F.lit(None).cast("double").alias("corr"),
        *tail(),
    )
    corr = pairwise_correlations(db.df("lineitem"), cols).select(
        F.lit("corr").alias("mode"),
        F.col("col_a").alias("column_name"),
        "col_b",
        "n",
        F.lit(None).cast("double").alias("mean"),
        F.lit(None).cast("double").alias("min"),
        F.lit(None).cast("double").alias("max"),
        F.lit(None).cast("double").alias("std"),
        "corr",
        *tail(),
    )
    skew = key_skew_report(db.df("lineitem"), "l_suppkey", k=10).select(
        F.lit("skew").alias("mode"),
        F.lit("l_suppkey").alias("column_name"),
        F.col("key").alias("col_b"),
        F.col("cnt").alias("n"),
        F.lit(None).cast("double").alias("mean"),
        F.lit(None).cast("double").alias("min"),
        F.lit(None).cast("double").alias("max"),
        F.lit(None).cast("double").alias("std"),
        F.lit(None).cast("double").alias("corr"),
        *tail(rank="rank", share="share", skew_factor="skew_factor"),
    )
    return stats.unionByName(corr).unionByName(skew)


def q_events_rollup(spark, sf_dir):
    """A-family extension (reference has no grouping sets/rollup/cube,
    SURVEY §2.4): hierarchical rollup of event volume and value over
    (event_type, hour) — subtotals and grand total in one pass."""
    db = _db(spark, sf_dir)
    ev = db.df("events").withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return ev.rollup("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("sum_value"),
    )


def q_events_sliding(spark, sf_dir):
    """Streaming extension (batch twin): sliding-window user features —
    1h windows every 15min; each event lands in 4 windows."""
    from deep_db_learning_spark.streaming import sliding_user_features

    db = _db(spark, sf_dir)
    return sliding_user_features(db.df("events"))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: join + agg + deterministic top-10."""
    db = _db(spark, sf_dir)
    j = (
        db.df("customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(db.df("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(db.df("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
    )
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join, revenue per nation."""
    db = _db(spark, sf_dir)
    j = (
        db.df("customer")
        .join(db.df("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(db.df("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(db.df("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(db.df("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(db.df("region"), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


def q_tpch_q3_modes(spark, sf_dir):
    """The driver slot for the Q3 family (r12 rotation — the q18_modes
    pattern): everything :func:`q_tpch_q3` carries (bench times THAT
    narrower path so cross-round timing stays comparable) plus ``q4``
    order-priority checking (EXISTS with a cross-table date predicate,
    as a semi join; key_str carries o_orderpriority, cnt the order
    count) and ``q22`` global sales opportunity (anti-join under a
    global-average scalar filter; key_int carries c_nationkey, cnt
    numcust, value totacctbal) from ``plans/tpch_suite`` — both
    previously pytest-only, now driver-hashed."""
    from deep_db_learning_spark.plans import tpch_suite

    db = _db(spark, sf_dir)
    base = q_tpch_q3(spark, sf_dir).select(
        F.lit("q3").alias("mode"),
        "o_orderkey", "o_orderdate",
        F.lit(None).cast("string").alias("key_str"),
        F.lit(None).cast("long").alias("key_int"),
        F.lit(None).cast("long").alias("cnt"),
        F.col("revenue").alias("value"),
    )
    q4 = tpch_suite.tpch_q4(db).select(
        F.lit("q4").alias("mode"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.col("o_orderpriority").alias("key_str"),
        F.lit(None).cast("long").alias("key_int"),
        F.col("order_count").alias("cnt"),
        F.lit(None).cast("double").alias("value"),
    )
    q22 = tpch_suite.tpch_q22(db).select(
        F.lit("q22").alias("mode"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("string").alias("key_str"),
        F.col("c_nationkey").cast("long").alias("key_int"),
        F.col("numcust").alias("cnt"),
        F.col("totacctbal").alias("value"),
    )
    # r13 rotation: Q11 important stock (group-by-HAVING over a scalar
    # subquery of the SAME decimal fold; key_int carries ps_partkey)
    # and Q15 top supplier (max-of-aggregate broadcast back over the
    # revenue view; key_int s_suppkey, key_str s_name)
    q11 = tpch_suite.tpch_q11(db).select(
        F.lit("q11").alias("mode"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("string").alias("key_str"),
        F.col("ps_partkey").cast("long").alias("key_int"),
        F.lit(None).cast("long").alias("cnt"),
        F.col("value"),
    )
    q15 = tpch_suite.tpch_q15(db).select(
        F.lit("q15").alias("mode"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.col("s_name").alias("key_str"),
        F.col("s_suppkey").cast("long").alias("key_int"),
        F.lit(None).cast("long").alias("cnt"),
        F.col("total_revenue").alias("value"),
    )
    return (
        base.unionByName(q4)
        .unionByName(q22)
        .unionByName(q11)
        .unionByName(q15)
    )


def q_tpch_q5_modes(spark, sf_dir):
    """The driver slot for the join-heavy family (r12 rotation):
    everything :func:`q_tpch_q5` carries (bench times THAT path) plus
    ``q7`` two-role-dimension volume shipping (nation+region aliased
    twice, disjunctive pair filter; name1/name2 carry supp/cust
    nation, yr the ship year), ``q8`` national market share (ratio of
    two conditional decimal folds; yr the order year, value the
    share), and ``q9`` product-type profit rollup (name1 the supplier
    nation, yr the order year, value the profit) from
    ``plans/tpch_suite`` — all previously pytest-only, now
    driver-hashed."""
    from deep_db_learning_spark.plans import tpch_suite

    db = _db(spark, sf_dir)
    base = q_tpch_q5(spark, sf_dir).select(
        F.lit("q5").alias("mode"),
        F.col("n_name").alias("name1"),
        F.lit(None).cast("string").alias("name2"),
        F.lit(None).cast("int").alias("yr"),
        F.col("revenue").alias("value"),
    )
    q7 = tpch_suite.tpch_q7(db).select(
        F.lit("q7").alias("mode"),
        F.col("supp_nation").alias("name1"),
        F.col("cust_nation").alias("name2"),
        F.col("l_year").cast("int").alias("yr"),
        F.col("revenue").alias("value"),
    )
    q8 = tpch_suite.tpch_q8(db).select(
        F.lit("q8").alias("mode"),
        F.lit(None).cast("string").alias("name1"),
        F.lit(None).cast("string").alias("name2"),
        F.col("o_year").cast("int").alias("yr"),
        F.col("mkt_share").alias("value"),
    )
    q9 = tpch_suite.tpch_q9(db).select(
        F.lit("q9").alias("mode"),
        F.col("nation").alias("name1"),
        F.lit(None).cast("string").alias("name2"),
        F.col("o_year").cast("int").alias("yr"),
        F.col("sum_profit").alias("value"),
    )
    return base.unionByName(q7).unionByName(q8).unionByName(q9)


def q_graph_stats(spark, sf_dir):
    """A9 dataset statistics (`scripts/dataset_info.py:19-60`): per-FK
    tuple/edge counts + edges-per-source ratio — mode ``fk``. r8 adds
    mode ``rule``: pairwise association rules over the order→part
    baskets (``operators/basket.py`` — support/confidence/lift from
    exact counts, hot-basket cap shared with the oracle; src/dst_table
    carry the antecedent/consequent part keys as strings, the count
    columns n_pair/n_ante/n_cons, edges_per_src the confidence)."""
    from deep_db_learning_spark.operators.basket import (
        pair_association_rules,
    )

    db = _db(spark, sf_dir)
    fk = graph_statistics(db.tables, db.primary_keys, db.foreign_keys).select(
        F.lit("fk").alias("mode"),
        "edge_type", "src_table", "dst_table",
        "n_src_rows", "n_dst_rows", "n_edges", "edges_per_src",
        F.lit(None).cast("double").alias("support"),
        F.lit(None).cast("double").alias("lift"),
    )
    rules, _hot = pair_association_rules(
        db.df("lineitem"), "l_orderkey", "l_partkey", min_pair_groups=2
    )
    rl = rules.select(
        F.lit("rule").alias("mode"),
        F.lit("copurchase").alias("edge_type"),
        F.col("antecedent").cast("string").alias("src_table"),
        F.col("consequent").cast("string").alias("dst_table"),
        F.col("n_ante").alias("n_src_rows"),
        F.col("n_cons").alias("n_dst_rows"),
        F.col("n_pair").alias("n_edges"),
        F.col("confidence").alias("edges_per_src"),
        "support", "lift",
    )
    return fk.unionByName(rl)


def q_convert_orders(spark, sf_dir):
    """SURVEY 2.8 converter registry: schema-driven conversion of orders
    (omit keys, datetime 1->3 expansion, dict-encoded cats, num cast)."""
    from deep_db_learning_spark.schema import ColumnSpec, TableSpec

    db = _db(spark, sf_dir)
    spec = TableSpec(
        columns={
            "o_orderkey": ColumnSpec("omit", key=True),
            "o_custkey": ColumnSpec("omit"),
            "o_orderstatus": ColumnSpec("cat", card=3),
            "o_totalprice": ColumnSpec("num"),
            "o_orderdate": ColumnSpec("datetime"),
            "o_orderpriority": ColumnSpec("cat", card=5),
        }
    )
    return convert_table(db.df("orders"), spec, keep=["o_orderkey"])


def q_multilabel_event_types(spark, sf_dir):
    """F15 multi-label binarize: per-user SET of event types -> 0/1
    columns (MariaDB SET semantics, `ctu_dataset.py:156-166`)."""
    db = _db(spark, sf_dir)
    sets = db.df("events").groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types")
    )
    out = multilabel_binarize(
        sets, "types", labels=["click", "error", "purchase", "signup", "view"]
    )
    return out.select(
        "user_id", "types_click", "types_error", "types_purchase",
        "types_signup", "types_view",
    )


def q_dedup_exact(spark, sf_dir):
    """LLM ops: exact dedup by content hash."""
    db = _db(spark, sf_dir)
    return dedup.exact_dedup(db.df("documents"), "text", "doc_id")


def q_ngram_jaccard(spark, sf_dir):
    """LLM ops, mode-tagged (r7 rotation): ``ppjoin`` — exact 5-gram
    Jaccard near-dup pairs, all documents (inverted-index self-join;
    the testdata has ~25 planted near-dup pairs at j >= 0.93);
    ``link_scores`` / ``link_entities`` — the record-linkage pipeline
    (``operators/linkage.py``) over the DISTINCT part-name domain
    (id = min p_partkey per name — dedup-the-domain-first is the 100 TB
    linkage pattern): sorted-prefix blocking → bounded candidate pairs
    → codegen levenshtein/token-Jaccard scores → transitive entity
    clusters at lev_sim >= 0.75 (large-star/small-star components; the
    oracle replays them with a recursive reachability CTE)."""
    from deep_db_learning_spark.operators import linkage

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    pp = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=5, threshold=0.5
    ).select(
        F.lit("ppjoin").alias("mode"),
        "id_a", "id_b", "jaccard",
        F.lit(None).cast("int").alias("lev"),
        F.lit(None).cast("double").alias("lev_sim"),
        F.lit(None).cast("double").alias("token_jaccard"),
    )
    rec = (
        db.df("part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("txt"))
    )
    keys = linkage.blocking_keys(rec, "id", "txt", strategy="sorted_prefix", n=1)
    cand, _hot = linkage.candidate_pairs(keys, "id")
    # the DuckDB oracle pairs ALL blocks — if a block ever exceeds the
    # engine's max_block cap the two sides would silently diverge, so
    # fail loudly instead (at correctness SFs the hot frame is empty;
    # production callers handle the returned hot blocks explicitly)
    n_hot = _hot.count()
    if n_hot:
        raise AssertionError(
            f"{n_hot} blocking keys exceeded max_block — oracle SQL pairs "
            "all blocks; raise max_block or thread the cap into the oracle"
        )
    scores = linkage.pair_scores(cand, rec, "id", "txt")
    link_scores = scores.select(
        F.lit("link_scores").alias("mode"),
        "id_a", "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        "lev", "lev_sim", "token_jaccard",
    )
    link_entities = linkage.entity_clusters(scores, 0.75).select(
        F.lit("link_entities").alias("mode"),
        F.col("id").alias("id_a"),
        F.col("entity_id").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("int").alias("lev"),
        F.lit(None).cast("double").alias("lev_sim"),
        F.lit(None).cast("double").alias("token_jaccard"),
    )
    # r8: asymmetric CONTAINMENT pairs — sub-document duplication a
    # symmetric Jaccard join never sees (short doc quoted inside a
    # long one); exact shape quarantined to oracle duty like ppjoin,
    # LSH→verify(candidates=) is the production path
    cm = dedup.ngram_containment_pairs(
        docs, "text", "doc_id", shingle_k=5, threshold=0.8
    ).select(
        F.lit("containment").alias("mode"),
        "id_a", "id_b",
        F.col("containment").alias("jaccard"),
        F.lit(None).cast("int").alias("lev"),
        F.lit(None).cast("double").alias("lev_sim"),
        F.lit(None).cast("double").alias("token_jaccard"),
    )
    # r8: reciprocal-best-hit 1:1 matching (each kept pair is BOTH
    # sides' best match — the rule that turns scored pairs into a
    # one-to-one assignment; the oracle replays it with a QUALIFY
    # window + self-join)
    link_mutual = linkage.mutual_best_matches(scores).select(
        F.lit("link_mutual").alias("mode"),
        "id_a", "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("int").alias("lev"),
        "lev_sim",
        F.lit(None).cast("double").alias("token_jaccard"),
    )
    return (
        pp.unionByName(cm)
        .unionByName(link_scores)
        .unionByName(link_entities)
        .unionByName(link_mutual)
    )


def q_minhash_dedup(spark, sf_dir):
    """LLM ops, mode-tagged (r6 registry rotation — the edge_augment
    merge pattern): ``all`` — MinHash+LSH dedup survivors within the
    corpus; ``incr`` — cross-corpus dedup of the "arriving" half
    (odd doc_ids) against the "store" half (even doc_ids) via
    ``minhash_dedup_against`` (banded buckets join ACROSS corpora —
    the incremental-crawl pair of ``ivf_append``); ``mix`` — the kept
    set of temperature-based mixing (``temperature_fractions`` n^0.5
    re-balancing feeding ``stratified_sample``'s portable-hash keep
    rule); ``dw`` (r11 rotation) — DoReMi-shaped domain reweighting
    (``mixing.domain_weights``): one exact-decimal score fold per
    source, the exponential tilt computed driver-side through the
    SHARED ``domain_weight_py`` (log-sum-exp-shifted), per-domain
    (n_docs, mean, excess, weight) rows. FULLY oracle-checked: every
    stage is portable arithmetic a DuckDB oracle reproduces
    bit-for-bit (the mix fractions and the dw weights are recomputed
    at oracle-build time by independent python twins from the raw
    parquet and inlined as repr literals)."""
    from deep_db_learning_spark.operators.mixing import (
        domain_weights_from_stats,
        stratified_sample,
        temperature_fractions_py,
    )

    from deep_db_learning_spark.checkpoint import cut_lineage, mark_cut
    from deep_db_learning_spark.functions.exact_agg import exact_sum

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    # sign ONCE; the intra-corpus pass and both cross-corpus halves
    # reuse the materialized signatures
    signed = cut_lineage(
        dedup.minhash_signature(docs, "text", 64, 9), eager=True
    )
    # r14 late: band ONCE — the cross-corpus candidate set is exactly
    # the odd↔even parity slice of the intra-corpus candidate pairs
    # (identical signatures band to identical buckets, so a (new,
    # store) pair shares a bucket iff its (min, max) pair is an intra
    # candidate; pinned in tests/test_r14_opt.py). The incremental
    # path's former second banding of both halves + bucket join +
    # distinct is gone; it now verifies against this slice.
    cand_all = cut_lineage(
        dedup.lsh_candidate_pairs(signed, "doc_id", bands=16), eager=True
    )
    kept = dedup.minhash_lsh_dedup(
        docs, "text", "doc_id", threshold=0.7, signed=signed,
        candidates=cand_all,
    )
    store = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    odd_a = F.col("id_a") % 2 == 1
    # mark_cut, not a fresh cut (r15, ADVICE r14): the slice is a
    # row-local filter/projection of the MATERIALIZED cand_all, so
    # consumers re-running it only re-scan checkpoint blocks — the
    # eager re-checkpoint minhash_dedup_against would otherwise pay
    # is a pure extra job
    cand_incr = mark_cut(
        cand_all.filter(
            (F.col("id_a") % 2) != (F.col("id_b") % 2)
        ).select(
            F.when(odd_a, F.col("id_a")).otherwise(F.col("id_b")).alias("__new_id"),
            F.when(odd_a, F.col("id_b")).otherwise(F.col("id_a")).alias("__ref_id"),
        )
    )
    kept_incr = dedup.minhash_dedup_against(
        new, store, "text", "doc_id", num_perm=64, bands=16, shingle_k=9,
        threshold=0.7,
        candidates=cand_incr,
    )
    # ONE per-source stats job (r15, guide §1.2) replaces three
    # full-corpus driver jobs (docs.count(), the fractions groupBy,
    # the domain_weights groupBy): the row counts sum to docs.count()
    # exactly, and the decimal n_chars fold is value-identical to
    # domain_weights' isNotNull-filtered fold (F.sum skips NULLs; the
    # decimal sum is order-independent). The driver arithmetic runs
    # through the SAME shared helpers, so fractions and weights are
    # bit-identical.
    srows = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("n_chars").cast("double")).alias("s"),
        F.count("n_chars").alias("n_score"),
    ).collect()
    fr = temperature_fractions_py(
        {r["source"]: r["n_rows"] for r in srows},
        alpha=0.5,
        target_rows=int(0.6 * sum(r["n_rows"] for r in srows)),
    )
    mixed = stratified_sample(docs, "source", fr, "doc_id")
    dw = domain_weights_from_stats(
        spark,
        {
            r["source"]: (float(r["s"]), int(r["n_score"]))
            for r in srows
            if r["source"] is not None and r["n_score"] > 0
        },
        "source", eta=0.002, floor=0.05,
    )

    def ids(mode, frame):
        return frame.select(
            F.lit(mode).alias("mode"),
            "doc_id",
            F.lit(None).cast("string").alias("domain"),
            F.lit(None).cast("bigint").alias("n_docs"),
            F.lit(None).cast("double").alias("mean_score"),
            F.lit(None).cast("double").alias("excess"),
            F.lit(None).cast("double").alias("weight"),
        )

    return (
        ids("all", kept)
        .unionByName(ids("incr", kept_incr))
        .unionByName(ids("mix", mixed))
        .unionByName(
            dw.select(
                F.lit("dw").alias("mode"),
                F.lit(None).cast("bigint").alias("doc_id"),
                F.col("source").alias("domain"),
                "n_docs",
                "mean_score",
                "excess",
                "weight",
            )
        )
    )


def q_simhash(spark, sf_dir):
    """LLM ops: SimHash near-dup candidate pairs. The fingerprint is a
    portable mask-parity hash (Arrow numpy kernel on the hot path,
    value-identical Spark-HOF and DuckDB forms) — oracle-checked."""
    db = _db(spark, sf_dir)
    hashed = dedup.simhash(db.df("documents"), "text")
    return dedup.simhash_candidate_pairs(hashed, "doc_id", max_hamming=10).select(
        "id_a", "id_b", "hamming"
    )


def q_fingerprint_dedup(spark, sf_dir):
    """LLM ops, mode-tagged (r7 registry rotation — the events_windows
    merge pattern): ``exact`` — exact dedup by md5 content hash
    (content_hash, keeper, dup count); ``simhash`` — SimHash near-dup
    candidate pairs (portable mask-parity fingerprint + pigeonhole
    banding).  Both are hash-fingerprint dedups over one documents
    scan; NULL-padded to the shared (mode, h, a, b, c) schema."""
    db = _db(spark, sf_dir)
    docs = db.df("documents")
    ex = dedup.exact_dedup(docs, "text", "doc_id")
    pairs = dedup.simhash_candidate_pairs(
        dedup.simhash(docs, "text"), "doc_id", max_hamming=10
    )
    return ex.select(
        F.lit("exact").alias("mode"),
        F.col("content_hash").alias("h"),
        F.col("keeper_id").cast("bigint").alias("a"),
        F.col("dup_cnt").cast("bigint").alias("b"),
        F.lit(None).cast("bigint").alias("c"),
    ).unionByName(
        pairs.select(
            F.lit("simhash").alias("mode"),
            F.lit(None).cast("string").alias("h"),
            F.col("id_a").cast("bigint").alias("a"),
            F.col("id_b").cast("bigint").alias("b"),
            F.col("hamming").cast("bigint").alias("c"),
        )
    )


def q_sketches(spark, sf_dir):
    """Sketch family, mode-tagged: ``kmv`` + ``hll`` cardinality
    estimates of l_orderkey (the at-scale replacement for the
    reference's exact distinct-count profiling,
    `db_transformer/db/distinct_cnt_retrieval.py:55-155`), ``cms`` —
    Count-Min heavy hitters over events.user_id with the auditable
    exact column, ``quantile`` — EXACT no-global-sort order statistics
    of l_extendedprice.  Every estimator is portable integer/single-
    division arithmetic — the oracle reproduces the ESTIMATES
    bit-for-bit, not approximately (operators/sketch.py)."""
    from deep_db_learning_spark.operators import sketch

    db = _db(spark, sf_dir)
    li = db.df("lineitem")
    ev = db.df("events")
    kmv = sketch.kmv_distinct(li, "l_orderkey").select(
        F.lit("kmv").alias("mode"),
        F.lit("l_orderkey").alias("key"),
        F.col("kth").alias("ival"),
        F.col("k_used").alias("ival2"),
        F.col("est").alias("dval"),
    )
    hll = sketch.hll_distinct(li, "l_orderkey").select(
        F.lit("hll").alias("mode"),
        F.lit("l_orderkey").alias("key"),
        F.col("intsum").alias("ival"),
        F.col("zero_regs").alias("ival2"),
        F.col("est").alias("dval"),
    )
    cms = sketch.cms_heavy_hitters(ev, "user_id", threshold=10).select(
        F.lit("cms").alias("mode"),
        F.col("item").alias("key"),
        F.col("est").alias("ival"),
        F.col("exact").alias("ival2"),
        F.lit(None).cast("double").alias("dval"),
    )
    qt = sketch.exact_quantiles(
        li, "l_extendedprice", [0.25, 0.5, 0.75, 0.95, 0.99]
    ).select(
        F.lit("quantile").alias("mode"),
        F.concat(F.lit("p="), F.col("p").cast("string")).alias("key"),
        F.col("rank").alias("ival"),
        F.lit(None).cast("bigint").alias("ival2"),
        F.col("value").alias("dval"),
    )
    # r8: KMV set algebra — union/Jaccard/intersection of the
    # ordering-customer and event-user key populations estimated from
    # the two bottom-k synopses alone (the mergeable-sketch property:
    # no re-scan of either corpus at combine time)
    from deep_db_learning_spark.checkpoint import cut_lineage

    # one-row estimate frame consumed three times — materialize once
    ks = cut_lineage(
        sketch.kmv_set_estimates(
            db.df("orders"), "o_custkey", ev, "user_id", k=256
        ),
        eager=True,
    )
    kset = (
        ks.select(
            F.lit("kmv_set").alias("mode"), F.lit("union").alias("key"),
            F.col("kth").alias("ival"), F.col("k_used").alias("ival2"),
            F.col("union_est").alias("dval"),
        )
        .unionByName(
            ks.select(
                F.lit("kmv_set").alias("mode"),
                F.lit("jaccard").alias("key"),
                F.col("n_common").alias("ival"),
                F.col("k_used").alias("ival2"),
                F.col("jaccard_est").alias("dval"),
            )
        )
        .unionByName(
            ks.select(
                F.lit("kmv_set").alias("mode"),
                F.lit("intersect").alias("key"),
                F.col("n_common").alias("ival"),
                F.col("k_used").alias("ival2"),
                F.col("intersect_est").alias("dval"),
            )
        )
    )
    # r8: per-group exact order statistics (rank targets computed
    # in-plan from the group count — no driver collect)
    gq = sketch.grouped_quantiles(
        li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.9]
    ).select(
        F.lit("gquantile").alias("mode"),
        F.concat(
            F.col("l_returnflag"), F.lit(":p="), F.col("p").cast("string")
        ).alias("key"),
        F.col("rank").alias("ival"),
        F.lit(None).cast("bigint").alias("ival2"),
        F.col("value").alias("dval"),
    )
    # r8: per-group HLL (approx distinct orders per return flag —
    # count-distinct-by-key at O(m) state per group)
    hb = sketch.hll_distinct_by(li, "l_returnflag", "l_orderkey").select(
        F.lit("hll_by").alias("mode"),
        F.col("l_returnflag").alias("key"),
        F.col("intsum").alias("ival"),
        F.col("zero_regs").alias("ival2"),
        F.col("est").alias("dval"),
    )
    return (
        kmv.unionByName(hll).unionByName(cms).unionByName(qt)
        .unionByName(kset).unionByName(gq).unionByName(hb)
    )


def _fk_bipartite_graph(db):
    """(forward edges, symmetric edges, nodes) of the customer↔orders
    FK graph at node ids 2·custkey / 2·orderkey+1."""
    cust, orders = db.df("customer"), db.df("orders")
    nodes = cust.select((F.col("c_custkey") * 2).alias("node")).unionByName(
        orders.select((F.col("o_orderkey") * 2 + 1).alias("node"))
    )
    fwd = orders.select(
        (F.col("o_orderkey") * 2 + 1).alias("src"),
        (F.col("o_custkey") * 2).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return fwd, edges, nodes


def q_pagerank(spark, sf_dir):
    """Bench entry (kept pagerank-only so the timing stays comparable
    across rounds): 5 integer-exact PageRank iterations over the
    bipartite customer↔orders FK graph (forward + reverse edges, so
    customers with orders recirculate mass while customers without any
    orders have out-degree 0 and exercise the dangling-mass path). The
    whole trajectory is BIGINT at scale 10^12 (operators/pagerank.py),
    so the unrolled-CTE DuckDB oracle value-hash-matches every rank."""
    from deep_db_learning_spark.operators.pagerank import pagerank

    _fwd, edges, nodes = _fk_bipartite_graph(_db(spark, sf_dir))
    return pagerank(edges, nodes, iters=5)


def q_graph_iter(spark, sf_dir):
    """Driver slot ``pagerank``, mode-tagged (late r7): ``pagerank`` —
    see :func:`q_pagerank`; ``labelprop`` — 5 synchronous
    integer-exact label-propagation rounds on the same graph
    (community mode: every node seeds as its own id; (count DESC,
    label ASC) tie-break). BOTH trajectories are pure-integer, so the
    unrolled-CTE DuckDB oracles value-hash-match every rank and every
    label."""
    from deep_db_learning_spark.operators.labelprop import label_propagation

    db = _db(spark, sf_dir)
    fwd, _edges, nodes = _fk_bipartite_graph(db)
    pr = q_pagerank(spark, sf_dir).select(
        F.lit("pagerank").alias("mode"),
        "node", "rank_scaled", "rank",
        F.lit(None).cast("bigint").alias("label"),
    )
    lp = label_propagation(fwd, nodes, iters=5, symmetrize=True).select(
        F.lit("labelprop").alias("mode"),
        "node",
        F.lit(None).cast("bigint").alias("rank_scaled"),
        F.lit(None).cast("double").alias("rank"),
        "label",
    )
    # r8: exact triangle counting + local clustering coefficients over
    # the part co-purchase graph (operators/triangles.py — degree
    # orientation bounds the wedge join at O(m^1.5)); rank_scaled
    # carries n_triangles, rank the coefficient, label the degree. The
    # hot-group cap is SHARED with the oracle (cooccurrence_oracle_sql),
    # so wide orders are excluded identically on both sides.
    from deep_db_learning_spark.operators.triangles import (
        cooccurrence_edges,
        triangle_stats,
    )

    co_edges, _hot = cooccurrence_edges(
        db.df("lineitem"), "l_orderkey", "l_partkey"
    )
    # r12: ONE materialization of the co-purchase pair join, shared by
    # the triangles AND kcore modes; r13: canonical_cut TAGS the frame,
    # so both consumers take it as-is — one distinct + one checkpoint
    # write for the whole slot, not one per mode (ADVICE r12)
    from deep_db_learning_spark.operators.triangles import canonical_cut

    co_und = canonical_cut(co_edges)
    tri = triangle_stats(co_und).select(
        F.lit("triangles").alias("mode"),
        "node",
        F.col("n_triangles").alias("rank_scaled"),
        F.col("clustering").alias("rank"),
        F.col("degree").cast("bigint").alias("label"),
    )
    # r8: k-core of the same graph (operators/kcore.py); r9: the
    # engine now peels to the DETECTED fixpoint (alive-count-stable,
    # bounded, raises on non-convergence — no silent superset), while
    # the oracle stays the _KCORE_ITERS-round unrolled-CTE twin, which
    # is at-or-past the fixpoint depth at the oracle SF so both sides
    # land on the identical exact k-core; rank_scaled carries the
    # induced core degree, label the k
    from deep_db_learning_spark.operators.kcore import k_core

    kc = k_core(co_und, _KCORE_K, max_iters=32).select(
        F.lit("kcore").alias("mode"),
        "node",
        F.col("core_degree").alias("rank_scaled"),
        F.lit(None).cast("double").alias("rank"),
        F.lit(_KCORE_K).cast("bigint").alias("label"),
    )
    # r9: HITS hubs & authorities on the same FK graph
    # (operators/hits.py — unnormalized integer path counts, ranking-
    # identical to normalized HITS and sqrt-free so the unrolled-CTE
    # twin value-hashes every score); rank_scaled carries hub_scaled,
    # label auth_scaled (the max-normalized doubles are a presentation
    # step, exercised in pytest — the exact integers are the stronger
    # driver pin)
    from deep_db_learning_spark.operators.hits import hits

    ht = hits(fwd, nodes).select(
        F.lit("hits").alias("mode"),
        "node",
        F.col("hub_scaled").alias("rank_scaled"),
        F.lit(None).cast("double").alias("rank"),
        F.col("auth_scaled").alias("label"),
    )
    return pr.unionByName(lp).unionByName(tri).unionByName(kc).unionByName(ht)


_KCORE_K = 80      # real 6-round cascade at the sf0.01 oracle scale
_KCORE_ITERS = 8   # oracle unroll depth: at-or-past fixpoint (monotone,
                   # so the fixed-round twin == the engine's detected
                   # fixpoint at the oracle SF)


def q_triangles(spark, sf_dir):
    """Bench/probe entry (r9): exact triangle counts + clustering
    coefficients on the part co-purchase graph — degree orientation
    (Schank-Wagner), packed ``(degree<<32 | id)`` BIGINT wedge join,
    O(m^1.5) not Σd². The driver slot ``pagerank`` carries this as a
    mode; timing it first-class makes a plan regression in the wedge
    join visible round-over-round (VERDICT r8 #4)."""
    from deep_db_learning_spark.operators.triangles import (
        cooccurrence_edges,
        triangle_stats,
    )

    db = _db(spark, sf_dir)
    edges, _hot = cooccurrence_edges(
        db.df("lineitem"), "l_orderkey", "l_partkey"
    )
    return triangle_stats(edges)


def q_kcore(spark, sf_dir):
    """Bench/probe entry (r9): k-core of the co-purchase graph in
    convergence mode (fixpoint-detected peeling, bounded rounds) —
    per-round cost is one groupBy + two semi joins on the node key."""
    from deep_db_learning_spark.operators.kcore import k_core
    from deep_db_learning_spark.operators.triangles import (
        cooccurrence_edges,
    )

    db = _db(spark, sf_dir)
    edges, _hot = cooccurrence_edges(
        db.df("lineitem"), "l_orderkey", "l_partkey"
    )
    return k_core(edges, _KCORE_K, max_iters=32)

_PAGERANK_NODES_SQL = (
    "SELECT c_custkey*2 AS node FROM customer "
    "UNION ALL SELECT o_orderkey*2+1 FROM orders"
)
_PAGERANK_EDGES_SQL = (
    "SELECT o_orderkey*2+1 AS src, o_custkey*2 AS dst FROM orders "
    "UNION ALL SELECT o_custkey*2, o_orderkey*2+1 FROM orders"
)


def q_time_convert(spark, sf_dir):
    """F3-F9 merged under one mode tag (r7 rotation): ``orders`` — the
    date-decomposition family over o_orderdate; ``events`` — the
    time-of-day/interval/clamp family over events.ts; NULL-padded to
    one schema."""
    o = q_datetime_decompose(spark, sf_dir)
    e = q_events_time_convert(spark, sf_dir)
    return o.select(
        F.lit("orders").alias("mode"),
        F.col("o_orderkey").alias("id"),
        "od_year",
        "od_dayofyear",
        F.col("od_secs").alias("secs"),
        F.col("od_epoch").alias("epoch"),
        "od_month",
        "od_day",
        "od_ordinal",
        F.lit(None).cast("double").alias("dur_secs"),
        F.lit(None).cast("timestamp").alias("ts_clamped"),
    ).unionByName(
        e.select(
            F.lit("events").alias("mode"),
            F.col("event_id").alias("id"),
            F.lit(None).cast("int").alias("od_year"),
            F.lit(None).cast("int").alias("od_dayofyear"),
            F.col("ssm").alias("secs"),
            F.col("epoch_s").alias("epoch"),
            F.lit(None).cast("int").alias("od_month"),
            F.lit(None).cast("int").alias("od_day"),
            F.lit(None).cast("int").alias("od_ordinal"),
            F.col("since_midnight_secs").alias("dur_secs"),
            "ts_clamped",
        )
    )


def q_duplicate_spans(spark, sf_dir):
    """Scaleprobe-only (r6): span-level dedup — the Lee et al. 2022
    exact-substring pass in its fixed-window Spark form (double
    rolling-hash every 50-char window, corpus-wide duplicate filter,
    per-doc island merge). O(total chars) rows through one groupBy;
    pytest pins detection/removal/DuckDB-twin parity."""
    db = _db(spark, sf_dir)
    docs = db.df("documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    return dedup.duplicate_spans(docs, "text", "doc_id", min_len=50)


def q_ngram_jaccard_t07(spark, sf_dir):
    """Bench-only (not in the 50-query registry): the realistic dedup
    parameterization (k=9, t=0.7) of the exact Jaccard join — the same
    pair stage ``text_dedup_clusters`` runs; exercises the
    prefix-prefix + positional PPJoin path (the r3 2-4× upgrade)."""
    db = _db(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        db.df("documents"), "text", "doc_id", shingle_k=9, threshold=0.7
    )


def q_lsh_verify_pairs_t07(spark, sf_dir):
    """Bench-only: the PRODUCTION dedup composition at the same
    parameterization as ``q_ngram_jaccard_t07`` (k=9, t=0.7) — MinHash
    signatures → banded LSH candidate pairs → exact-Jaccard
    verification of ONLY the candidates
    (``ngram_jaccard_pairs(candidates=...)``). Same output contract
    (id_a, id_b, jaccard ≥ t) as the bare exact join, but the exact
    verification runs on the LSH-pruned pair set instead of the full
    inverted-index self-join — the documented 100 TB path (BASELINE.md
    scaling-probe section). The bare exact join stays available as the
    oracle/recall-check shape."""
    db = _db(spark, sf_dir)
    df = db.df("documents")
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    signed = dedup.minhash_signature(df, "text", num_perm=64, shingle_k=9)
    cand = dedup.lsh_candidate_pairs(signed, "doc_id", bands=16)
    return dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_k=9, threshold=0.7, candidates=cand
    )


def q_clean_corpus(spark, sf_dir):
    """Bench-only: the composed corpus-cleaning cascade (PII redact →
    exact doc dedup → paragraph dedup → quality/repetition filter →
    512/64 chunking) over the documents table — the end-to-end LLM
    data-prep shape, one declarative plan."""
    from deep_db_learning_spark.operators.corpus import clean_corpus

    db = _db(spark, sf_dir)
    return clean_corpus(db.df("documents"), chunk_size=512, chunk_overlap=64)


def q_data_mixing(spark, sf_dir):
    """Bench-only: the source-mixing + shard-packing pipeline — keep
    per-source fractions of the corpus (portable-hash Bernoulli, no
    shuffle), then assign token-budget shards via the two-phase
    distributed prefix sum."""
    from deep_db_learning_spark.operators.mixing import (
        pack_shards,
        stratified_sample,
    )

    db = _db(spark, sf_dir)
    fractions = {f"src{i}": round(0.05 * (i + 1), 2) for i in range(20)}
    mixed = stratified_sample(db.df("documents"), "source", fractions, "doc_id")
    return pack_shards(mixed, "n_chars", budget=100_000, order_col="doc_id")


def q_text_stats(spark, sf_dir):
    """LLM ops: token counts, language ID, md5 fingerprint."""
    db = _db(spark, sf_dir)
    t = F.col("text")
    return db.df("documents").select(
        "doc_id",
        T.whitespace_token_count(t).alias("ws_tokens"),
        T.bpe_token_count(t).alias("bpe_tokens"),
        T.lang_id(t).alias("lang"),
        T.fingerprint_md5(t).alias("fp_md5"),
        T.doc_fingerprint_min_md5("text", 8).alias("fp_minhash"),
    )


def q_quality_scores(spark, sf_dir):
    """LLM ops: composite quality score per document (bench-only entry;
    the driver row is the merged q_text_metrics)."""
    db = _db(spark, sf_dir)
    return db.df("documents").select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )


def q_text_metrics(spark, sf_dir):
    """LLM ops merged: per-document text analysis in one scan — token
    counts (whitespace + BPE-ish regex), n-gram language ID, md5 + min
    shingle-md5 fingerprints, the composite quality score, the
    Gopher-style repetition signals (duplicate-token + top-token
    fractions; boilerplate flags), and (r6) the corpus-frequency
    signal ``mean_tok_freq`` (mean corpus occurrence count of the
    document's tokens — the unigram-surprisal quality axis in exact
    integer arithmetic, so the oracle matches bitwise)."""
    db = _db(spark, sf_dir)
    docs = db.df("documents")
    t = F.col("text")
    per_doc = docs.select(
        "doc_id",
        T.whitespace_token_count(t).alias("ws_tokens"),
        T.bpe_token_count(t).alias("bpe_tokens"),
        T.lang_id(t).alias("lang"),
        T.fingerprint_md5(t).alias("fp_md5"),
        T.doc_fingerprint_min_md5("text", 8).alias("fp_minhash"),
        T.quality_score(t).alias("quality"),
        T.duplicate_token_fraction(t).alias("dup_token_frac"),
        T.top_token_fraction(t).alias("top_token_frac"),
    )
    mtf = T.mean_token_corpus_freq(docs, "text", "doc_id")
    return per_doc.join(mtf, "doc_id")


# stupid-backoff LM spec shared by the engine query and the oracle
# builder — the coupling is the fit itself (Spark and DuckDB each
# count independently under this spec; any drift breaks the hash)
TEXT_LM_SPEC = {"vocab_size": 128, "bigram_k": 1024}


# shared between q_text_quality's dsir mode and its oracle builder:
# the featurizer width and the target-domain filter are part of the
# spec — both engines fit their own λ under this config and any drift
# breaks the hash
TEXT_DSIR_SPEC = {"n_buckets": 1024, "target_source": "src0"}


def q_text_lm(spark, sf_dir):
    """Bench-only (r12): the CCNet-style perplexity pipeline timed
    first-class — stupid-backoff bigram LM fitted on the corpus
    (distributed counting, bounded top-V/top-K collects), per-document
    scoring as one decimal-exact fold. Split out of the q_text_quality
    composite so a regression in THIS pipeline is visible in the bench
    (VERDICT r11 task 1); the composite (the driver's oracle slot)
    unions this frame unchanged."""
    from deep_db_learning_spark.operators import lm as LM

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    model = LM.fit_stupid_backoff(docs, **TEXT_LM_SPEC)
    return LM.perplexity_scores(docs, model)


def q_text_dsir(spark, sf_dir):
    """Bench-only (r12): the DSIR importance-resampling pipeline timed
    first-class — hashed unigram+bigram buckets, driver-side λ over
    exact integer counts, per-document decimal score folds, and the
    deterministic resampling rank. Split out of q_text_quality
    (VERDICT r11 task 1)."""
    from deep_db_learning_spark.operators.dsir import (
        dsir_scores,
        fit_dsir_weights,
        spread_input,
    )
    from pyspark.sql.window import Window

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    # spread ONCE for the fit (the r9 advice: the .rdd partition probe
    # forces a plan materialization per call — fit then probes zero
    # times); dsir_scores spreads only its bucket path, keeping the
    # returned plan's id-join side on the raw scan (pin-identical)
    docs_s = spread_input(docs)
    lam = fit_dsir_weights(
        docs_s.where(F.col("source") == TEXT_DSIR_SPEC["target_source"]),
        docs_s,
        n_buckets=TEXT_DSIR_SPEC["n_buckets"],
        spread=False,
    )
    return dsir_scores(docs, lam).withColumn(
        "dsir_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.col("doc_id")))
        .cast("int"),
    )


def q_text_qfilter(spark, sf_dir):
    """Bench-only (r12): the discriminative quality-filter pipeline
    timed first-class — logistic regression over the hashed features,
    trained in-engine by full-batch GD (exact decimal z/gradient
    folds, one Arrow-numpy nonlinearity pass, dec9 driver updates),
    scored as the pure decimal logit fold. Split out of
    q_text_quality (VERDICT r11 task 1)."""
    from deep_db_learning_spark.operators.quality_filter import (
        fit_quality_filter,
        quality_logit_scores,
    )

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    qmodel = fit_quality_filter(
        docs.withColumn(
            "__y",
            (F.col("source") == TEXT_DSIR_SPEC["target_source"]).cast("int"),
        ),
        "__y",
    )
    return quality_logit_scores(docs, qmodel)


def q_text_quality(spark, sf_dir):
    """LLM ops, mode-tagged (r7 rotation): ``metrics`` — the merged
    per-document text-analysis scan (q_text_metrics); ``lm`` — CCNet-
    style perplexity scoring (Wenzek et al. 2020) under a stupid-
    backoff bigram LM (Brants et al. 2007) fitted on the corpus itself
    (`operators/lm.py`: distributed counting, bounded top-V/top-K
    collects, python-log literal score tables, decimal-exact fold —
    neither engine evaluates a transcendental).

    ``dsir`` (r9) — DSIR importance resampling (Xie et al. 2023,
    `operators/dsir.py`): hashed unigram+bigram buckets (portable md5),
    per-bucket log-likelihood-ratio weights between the src0 target
    domain and the whole corpus computed DRIVER-side in python over
    exact integer counts, per-document scores as exact decimal folds
    of the dec9-quantized λ, and the deterministic resampling rank
    (score DESC, doc_id). The oracle fits its own λ from DuckDB-side
    counts through the SHARED python arithmetic — the LM-oracle
    pattern applied to a selection model.

    ``qfilter`` (r10) — the discriminative counterpart
    (`operators/quality_filter.py`): a logistic-regression quality
    classifier over the same hashed features, trained IN-ENGINE by
    full-batch GD (exact decimal z/gradient folds, one Arrow-numpy
    nonlinearity pass, dec9 driver updates) against the src0 target
    label, scored as the pure decimal LOGIT fold. The oracle RE-RUNS
    the whole descent through the shared python twin
    (`fit_quality_filter_py` — bit-equal weights by the tabnet_full
    twin regime) and emits the identical scoring SQL. The synthetic
    corpus's labels carry no textual signal (shared vocabulary), so
    the slot pins the ARITHMETIC; learning itself is pytest-pinned on
    a constructed signal fixture. NULL-padded to one schema.

    r12: the three model pipelines are factored into the bench-only
    :func:`q_text_lm` / :func:`q_text_dsir` / :func:`q_text_qfilter`
    (timed first-class; VERDICT r11 task 1) — this composite unions
    their frames unchanged, so the oracle slot's plan is the same
    plan the bench times, piecewise."""
    metrics = q_text_metrics(spark, sf_dir)
    scores = q_text_lm(spark, sf_dir)
    dsir = q_text_dsir(spark, sf_dir)
    qf = q_text_qfilter(spark, sf_dir)
    pad = {
        "ws_tokens": "int", "bpe_tokens": "int", "lang": "string",
        "fp_md5": "string", "fp_minhash": "string", "quality": "double",
        "dup_token_frac": "double", "top_token_frac": "double",
        "mean_tok_freq": "double", "n_tokens": "int",
        "logp_sum": "double", "avg_nll": "double",
        "dsir_score": "double", "dsir_rank": "int",
        "qf_logit": "double",
    }

    def padded(cols):
        return [
            (F.col(c) if c in cols else F.lit(None)).cast(t).alias(c)
            for c, t in pad.items()
        ]

    return (
        metrics.select(
            F.lit("metrics").alias("mode"), "doc_id",
            *padded({
                "ws_tokens", "bpe_tokens", "lang", "fp_md5", "fp_minhash",
                "quality", "dup_token_frac", "top_token_frac",
                "mean_tok_freq",
            }),
        )
        .unionByName(
            scores.select(
                F.lit("lm").alias("mode"), "doc_id",
                *padded({"n_tokens", "logp_sum", "avg_nll"}),
            )
        )
        .unionByName(
            dsir.withColumnRenamed("score", "dsir_score").select(
                F.lit("dsir").alias("mode"), "doc_id",
                *padded({"dsir_score", "dsir_rank"}),
            )
        )
        .unionByName(
            qf.select(
                F.lit("qfilter").alias("mode"), "doc_id",
                *padded({"qf_logit"}),
            )
        )
    )


def q_embedding_topk(spark, sf_dir):
    """LLM ops, mode-tagged (r6 registry rotation): ``exact`` —
    brute-force cosine top-5 for queries vec_id < 5; ``sq8`` — the
    same top-5 over the int8 scalar-quantized store (per-dim
    max/127 scales, round-half-up encode, clip to ±127, dequantize-on
    -the-fly cosine — all JVM codegen). Oracle-checked end to end:
    the oracle recomputes the scales independently from the raw
    parquet and replays encode→dequantize→cosine in DuckDB.

    r13 adds ``trained`` (N6's learned half): word vectors are
    TRAINED in-engine on the documents corpus
    (``operators/word_embedding.py`` — co-occurrence counts
    distributed, dec9 decimal-fold GD shared verbatim with the twin),
    documents are embedded by the exact-decimal relational encoder,
    and the same brute-force cosine top-5 runs over the LEARNED
    geometry (query docs doc_id < 5). The oracle re-fits through
    ``fit_word_embedding_twin`` from DuckDB-computed counts
    (bit-equal model, pinned in tests/test_word_embedding.py),
    re-pools with an order-independent DECIMAL SUM, and replays the
    cosine ranking.

    r14 rotates the trained fit to ``window=2`` with GloVe's 1/d
    distance weighting (VERDICT r13 task 3: the reference's GloVe
    tables are window-10 with the same weighting —
    ``/root/reference/db_transformer/data/ctu_dataset.py:43-52``):
    distance-1 AND distance-2 co-occurrence counts feed
    ``log1p(n₁ + n₂/2)`` targets through the shared float fold, so
    the weighting semantics sit under the driver-oracle hash. The
    frame-resident descent (``fit_word_embedding_frames``, lifts
    MAX_VOCAB to 200k) is bit-equal to this fit by pytest pin."""
    from deep_db_learning_spark.operators.word_embedding import (
        _tokens_col,
        embed_documents,
        fit_word_embedding,
    )

    db = _db(spark, sf_dir)
    emb = db.df("embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    docs = db.df("documents")
    from deep_db_learning_spark.checkpoint import cut_lineage

    # r14 (guide §2.6 + §1.2): the trained branch's build-time actions
    # (tokenize cut, vocab + pair collects, encode cut) are
    # independent of the sq8 scales aggregation — run them on a driver
    # thread so the two pipelines' jobs overlap instead of serializing.
    # The corpus is tokenized ONCE into a materialized (doc_id, __t)
    # frame shared by the vocab scan, the window-2 pair branches AND
    # the document encoder (three corpus scans + tokenizations before;
    # token lists identical, so counts, model and embeddings are
    # bit-equal — the oracle is unchanged).
    def _trained_branch():
        toks_arr = cut_lineage(
            docs.select(F.col("doc_id"), _tokens_col("text").alias("__t")),
            eager=True,
        )
        wem = fit_word_embedding(docs, "text", window=2, tokens=toks_arr)
        # materialize ONCE (r13 review): the corpus cross-join side and
        # the broadcast query side both consume this frame — uncut, the
        # explode+join+fold chain would run twice per action. Zero
        # vectors (all-OOV docs, or exact decimal cancellation) are
        # excluded SYMMETRICALLY with the oracle: Spark's 0/0 cosine is
        # NULL while DuckDB's list_cosine_similarity returns -1.0, so a
        # zero vector on either side of the ranking would diverge.
        return cut_lineage(
            embed_documents(docs, wem, tokens=toks_arr)
            .withColumnRenamed("doc_id", "vec_id")
            .filter(F.exists("embedding", lambda x: x != F.lit(0.0))),
            eager=True,
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # r15 (ADVICE r14 #3): with PYSPARK_PIN_THREAD=false,
    # inheritable_thread_target(spark) returns the session itself (not
    # a decorator) and calling it would raise TypeError — fall back to
    # the bare branch function (thread-local job-group inheritance is a
    # pinned-thread-mode concern only).
    try:
        _branch = inheritable_thread_target(spark)(_trained_branch)
    except TypeError:
        _branch = _trained_branch

    with ThreadPoolExecutor(max_workers=1) as pool:
        demb_f = pool.submit(_branch)
        scales = similarity.sq8_train(emb)
        demb = demb_f.result()
    enc = similarity.sq8_encode(emb, scales)
    sq8 = similarity.sq8_topk(enc, scales, queries, k=5)
    dq = demb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    trained = similarity.brute_force_topk(demb, dq, k=5)
    return (
        exact.select(
            F.lit("exact").alias("mode"), "query_id", "vec_id", "rank", "sim"
        )
        .unionByName(
            sq8.select(
                F.lit("sq8").alias("mode"), "query_id", "vec_id", "rank", "sim"
            )
        )
        .unionByName(
            trained.select(
                F.lit("trained").alias("mode"),
                "query_id", "vec_id", "rank", "sim",
            )
        )
    )


# shared between q_text_search and its oracle builder: the query set is
# part of the spec, so both engines score the identical driver-side
# queries against whatever corpus the sf_dir holds
TEXT_SEARCH_QUERIES = [
    (0, "hash join spark"),
    (1, "window agg stream"),
    (2, "customer filter scan"),
    (3, "vector merge sort batch"),
    (4, "slow query big table"),
]

# consecutive-token phrase queries for the positional mode (the ranked
# modes above are bag-of-words); (3) exercises the repeated-term path
TEXT_SEARCH_PHRASES = [
    (0, "hash join"),
    (1, "window agg"),
    (2, "fast table value"),
    (3, "table table"),
    (4, "group value"),
]


def q_text_search(spark, sf_dir):
    """LLM ops, mode-tagged (r7): full-text retrieval over documents —
    ``bm25`` (inverted postings → broadcast query-term join →
    exact-decimal score fold → deterministic top-10), ``jacc``
    (distinct-token Jaccard, integer set arithmetic, one portable
    division), ``rrf`` (reciprocal-rank fusion of the two, fixed-order
    float fold), ``phrase`` (positional index, the
    intersect-shifted-positions fold, ranked by occurrence count);
    ``snippet`` (r7 late: the max-distinct-query-terms window per
    (query, doc) — the RAG context step — with the sliced span TEXT
    itself in the nullable ``snippet`` column, NULL for other modes).
    FULLY oracle-checked: idf is python ``math.log`` over exact
    (N, df) integers inlined as literals on BOTH sides (no
    cross-engine transcendental), every other op is IEEE or integer
    arithmetic on shared expression trees (operators/search.py)."""
    from deep_db_learning_spark.checkpoint import cut_lineage

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    # ONE tokenization for all four modes: the positional index is the
    # single persisted artifact (checkpoint stands in for it) and the
    # flat BM25/Jaccard index derives from it arithmetically — the
    # corpus text is regex-scanned exactly once
    pos = cut_lineage(
        search.build_positional_postings(docs, "text", "doc_id"), eager=True
    )
    postings = cut_lineage(
        search.postings_from_positional(pos, "doc_id"), eager=True
    )

    # NOTE (r14): a driver-thread overlap of the {bm25 → snippet} and
    # {jaccard, phrase} chains measured FASTER in isolation (~1s) but
    # unstable inside the full bench suite (median 6.3s → 13.1s, max
    # 18.7s — concurrent 32-partition stages under suite memory
    # pressure); the sequential build is the reliable shape here.
    #
    # r14 late: the bm25 and jaccard top-k frames materialize in ONE
    # mode-tagged union cut instead of two separate cuts (each top-k's
    # rank window runs per-branch BEFORE the union, so every (mode,
    # query, doc, rank, score) row is bit-identical to the two-cut
    # shape — guide §1.2, don't pay two ~1 s materialization floors
    # for ≤ |queries|·k rows each); the cut frame IS the first two
    # legs of the returned union and feeds RRF and the snippet pairs.
    bm_raw = search.bm25_topk(
        docs, "text", "doc_id", TEXT_SEARCH_QUERIES, k=10,
        postings=postings,
    )
    ja_raw = search.jaccard_topk(
        docs, "text", "doc_id", TEXT_SEARCH_QUERIES, k=10,
        postings=postings,
    )
    ranked = cut_lineage(
        bm_raw.select(
            F.lit("bm25").alias("mode"), "query_id", "doc_id", "rank", "score"
        ).unionByName(
            ja_raw.select(
                F.lit("jacc").alias("mode"), "query_id", "doc_id", "rank", "score"
            )
        ),
        eager=True,
    )
    bm = ranked.filter(F.col("mode") == "bm25").select(
        "query_id", "doc_id", "rank", "score"
    )
    ja = ranked.filter(F.col("mode") == "jacc").select(
        "query_id", "doc_id", "rank", "score"
    )
    rr = search.rrf_fuse([bm, ja], "doc_id", k=10)
    # phrase mode: positional index fold, ranked by occurrence count
    # (integer → double cast, no float reduction to couple)
    ph = search.phrase_search(
        docs, "text", "doc_id", TEXT_SEARCH_PHRASES, postings=pos
    ).withColumn("score", F.col("n_occurrences").cast("double"))
    ph = search._rank_topk(ph, "doc_id", 10)
    # snippet mode: the retrieve-then-snippet composition — the BM25
    # top-10 rows carry their best context window's TEXT through the
    # hash check (pairs= bounds the window argmax to k docs per query).
    # r14 late: no separate eager cut — its inputs (the ranked cut, the
    # positional index) are already materialized, so the ≤ |queries|·k
    # join folds into the final action instead of paying its own
    # checkpoint round-trip.
    snip = bm.join(
        search.best_snippet(
            docs, "text", "doc_id", TEXT_SEARCH_QUERIES,
            window=SNIPPET_W, postings=pos, pairs=bm,
        ).select("query_id", "doc_id", "snippet"),
        ["query_id", "doc_id"],
    ).select("query_id", "doc_id", "rank", "score", "snippet")
    nul = F.lit(None).cast("string").alias("snippet")
    return (
        ranked.select("mode", "query_id", "doc_id", "rank", "score", nul)
        .unionByName(
            rr.select(F.lit("rrf").alias("mode"), "query_id", "doc_id", "rank", "score", nul)
        )
        .unionByName(
            ph.select(F.lit("phrase").alias("mode"), "query_id", "doc_id", "rank", "score", nul)
        )
        .unionByName(
            snip.select(F.lit("snippet").alias("mode"), "query_id", "doc_id", "rank", "score", "snippet")
        )
    )


def q_embedding_neardup(spark, sf_dir):
    """LLM ops, mode-tagged (r9 rotation): ``pairs`` — exact cosine
    pair join at 0.32 among vec_id < 200 (the synthetic embeddings are
    random — max pairwise cosine ~0.44 — so the threshold is set where
    pairs exist to exercise the operator). ``semdedup`` (r9) —
    SemDeDup (Abbas et al. 2023, `operators/semdedup.py`) over the
    FULL corpus: the deterministic Lloyd's clustering (the same fit
    the ann_ivf oracle bit-replays), in-cluster upper-triangular
    greedy marking at 0.30, per-vector (cluster, earliest duplicate
    source, strongest similarity) — the oracle re-fits the clustering
    through the shared `ivf_fit_assign` twin and replays the identical
    scan in SQL. NULL-padded to one schema."""
    from deep_db_learning_spark.operators.semdedup import semantic_dedup

    db = _db(spark, sf_dir)
    sub = db.df("embeddings").filter(F.col("vec_id") < 200)
    pairs = similarity.embedding_neardup_pairs(sub, threshold=0.32, exact=True)
    sd = semantic_dedup(db.df("embeddings"), threshold=0.30)
    return pairs.select(
        F.lit("pairs").alias("mode"),
        "id_a",
        "id_b",
        "sim",
        F.lit(None).cast("int").alias("list_id"),
    ).unionByName(
        sd.select(
            F.lit("semdedup").alias("mode"),
            F.col("vec_id").alias("id_a"),
            F.col("dup_of").alias("id_b"),
            "sim",
            "list_id",
        )
    )


def q_ann_lsh(spark, sf_dir):
    """LLM ops: LSH-bucketed approximate top-5. Each result row carries
    its query's recall@5 vs the exact brute-force top-5. FULLY
    oracle-checked: the hyperplanes are seed-derived arithmetic, so
    DuckDB reproduces bucket assignment, multiprobe, candidates, the
    ranking, and the recall column bit-for-bit."""
    db = _db(spark, sf_dir)
    queries = (
        db.df("embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    approx = similarity.lsh_topk(
        db.df("embeddings"), queries, k=5, n_planes=4, multiprobe=2
    )
    exact = similarity.brute_force_topk(db.df("embeddings"), queries, k=5)
    rec = similarity.topk_recall(approx, exact)
    return approx.join(rec, "query_id")


def q_ann_ivf(spark, sf_dir):
    """LLM ops, mode-tagged: ``ivf`` — IVF (3-probe) approximate
    top-5, each row carrying its query's recall@5 vs brute force;
    ``pq`` (r5) — product quantization with exact rerank (knuth-sample
    Lloyd codebooks → m=16 subspace codes → ADC shortlist → exact-L2
    refine), recall@5 vs the exact L2 baseline. FULLY oracle-checked:
    the IVF index is ``ivf_index_deterministic`` (data-seeded Lloyd's
    with per-row numpy assignment + exact decimal centroid folds),
    whose integer assignments are recomputed bit-for-bit by the
    independent numpy/decimal twin in ``operators/ivf_oracle.py``
    (sims/recall via DuckDB ``list_cosine_similarity`` at round-6, the
    ``ann_lsh`` pattern); the PQ rows are recomputed end-to-end by
    ``pq_oracle_rows`` (deterministic sample order, one-shot numpy
    Lloyd, fixed-order ADC adds, left-fold L2 — every stage bit-equal)
    and pinned as VALUES. MLlib's ``ivf_index`` remains the scale path
    (its float reductions are partitioning-sensitive, hence not
    hash-checkable)."""
    db = _db(spark, sf_dir)
    emb = db.df("embeddings")
    queries_df = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assigned, model = similarity.ivf_index_deterministic(
        emb, n_lists=8, n_iters=5
    )
    approx = similarity.ivf_topk(
        assigned, model, queries_df, k=5, n_probes=3, query_count=5
    )
    exact = similarity.brute_force_topk(emb, queries_df, k=5)
    rec = similarity.topk_recall(approx, exact)
    ivf_rows = approx.join(rec, "query_id").select(
        F.lit("ivf").alias("mode"), "query_id", "vec_id", "rank", "sim", "recall"
    )

    cb = similarity.pq_train(emb, m=16, k=16, sample=500, seed=42)
    enc = similarity.pq_encode(emb, cb)
    pq = similarity.pq_topk(enc, cb, queries_df, k=5, rerank=emb, rerank_factor=4)
    exact_l2 = similarity.brute_force_topk(
        emb, queries_df, k=5, metric="l2", round_sim=None
    )
    rec2 = similarity.topk_recall(pq, exact_l2)
    pq_rows = pq.join(rec2, "query_id").select(
        F.lit("pq").alias("mode"),
        "query_id",
        "vec_id",
        "rank",
        F.round("dist", 6).alias("sim"),
        "recall",
    )

    # ``pqr`` (r6) — residual IVF-PQ (FAISS-IVFPQ formulation): codes
    # encode vec − coarse-centroid, the ADC LUT is per (query, probed
    # list), and only the probed lists' codes are scanned; recomputed
    # end-to-end by ``pq_residual_oracle_rows``
    cbr = similarity.pq_train(
        assigned, m=16, k=16, sample=500, seed=42, residual_model=model
    )
    encr = similarity.pq_encode(
        assigned, cbr, extra_cols=("list_id",), residual_model=model
    )
    pqr = similarity.ivf_pq_topk(
        encr, cbr, model, queries_df, k=5, n_probes=3,
        rerank=emb, rerank_factor=4, residual=True,
    )
    rec3 = similarity.topk_recall(pqr, exact_l2)
    pqr_rows = pqr.join(rec3, "query_id").select(
        F.lit("pqr").alias("mode"),
        "query_id",
        "vec_id",
        "rank",
        F.round("dist", 6).alias("sim"),
        "recall",
    )
    return ivf_rows.unionByName(pq_rows).unionByName(pqr_rows)


def q_ivf_append(spark, sf_dir):
    """Bench/scaleprobe-only (r6, outside the 50-slot registry; pytest
    pins its invariants): the incremental-crawl append path — fit IVF
    on the standing 80% of the corpus, ``ivf_append`` the arriving 20%
    with the frozen centroids (one Arrow pass + union, the existing
    store never reshuffles), then answer queries over the grown store
    with the drift verdict attached."""
    db = _db(spark, sf_dir)
    emb = db.df("embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    assigned, model = similarity.ivf_index_deterministic(old, n_lists=8, n_iters=3)
    store, drift = similarity.ivf_append(assigned, model, new)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = similarity.ivf_topk(
        store, model, queries_df, k=5, n_probes=3, query_count=5
    )
    flagged = drift.agg(
        F.sum(F.col("refit").cast("int")).alias("n_refit_lists")
    )
    return topk.crossJoin(flagged)


def q_text_dedup_clusters(spark, sf_dir):
    """LLM ops: transitive dedup clusters — exact 9-gram Jaccard pairs
    (j ≥ 0.7) collapsed to connected components via iterative min-label
    propagation; component id = min doc_id of the cluster.

    The exact inverted-index pair join is the ORACLE form (DuckDB can
    reproduce it); heavy-hitter shingles make it quadratic-ish on big
    corpora. At scale feed `connected_components` the verified pairs of
    `minhash_lsh_dedup`'s candidate path instead — identical clusters
    whenever LSH recall holds (tested in tests/test_dedup.py).

    r6 adds a second mode, ``span``: the Lee-et-al.-2022 exact
    duplicated-SUBSTRING intervals (``duplicate_spans``, double
    rolling-hash 50-char windows → corpus-wide duplicate filter →
    per-doc island merge) — rows ``(span, doc_id, a=start, b=end)``
    beside ``(cluster, doc_id, a=component, b=NULL)``, both
    DuckDB-recomputed."""
    from deep_db_learning_spark.operators.components import (
        connected_components_star,
    )

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_k=9, threshold=0.7)
    # r7: large-star/small-star (O(log n) rounds) replaces the
    # min-label loop as the default; equality pinned in
    # tests/test_components.py, oracle unchanged (component = min id)
    comp = connected_components_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        nodes=docs.select("doc_id"),
    )
    par = spark.sparkContext.defaultParallelism
    sdocs = docs.repartition(par) if docs.rdd.getNumPartitions() < par else docs
    spans = dedup.duplicate_spans(sdocs, "text", "doc_id", min_len=50)
    # r9 mode ``lrs``: the corpus-wide longest repeated substring off
    # the DISTRIBUTED prefix-doubling suffix array
    # (`operators/suffix_array.py` — exact, character-level, the
    # Lee-et-al. machinery behind the rolling-hash span mode above);
    # the oracle recomputes it with the independent python SA twin and
    # inlines the maximal positions as VALUES. Rows (doc_id, a=pos,
    # b=lcp).
    from deep_db_learning_spark.operators.suffix_array import (
        longest_repeated_substring,
    )

    lrs = longest_repeated_substring(sdocs, "text", "doc_id")
    return (
        comp.select(
            F.lit("cluster").alias("mode"),
            F.col("node").alias("doc_id"),
            F.col("component").cast("bigint").alias("a"),
            F.lit(None).cast("bigint").alias("b"),
        )
        .unionByName(
            spans.select(
                F.lit("span").alias("mode"),
                "doc_id",
                F.col("start").cast("bigint").alias("a"),
                F.col("end").cast("bigint").alias("b"),
            )
        )
        .unionByName(
            lrs.select(
                F.lit("lrs").alias("mode"),
                "doc_id",
                F.col("pos").cast("bigint").alias("a"),
                F.col("lcp").cast("bigint").alias("b"),
            )
        )
    )


def q_decontamination(spark, sf_dir):
    """LLM ops: benchmark decontamination — training docs (doc_id ≥ 50)
    sharing a 13-token n-gram with any eval doc (doc_id < 50), with the
    count of distinct shared grams. Eval grams broadcast; train side
    explodes once."""
    from deep_db_learning_spark.functions.text import contamination_matches

    db = _db(spark, sf_dir)
    docs = db.df("documents")
    return contamination_matches(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        n=13,
    )


def q_events_hourly(spark, sf_dir):
    """Streaming extension (batch twin): tumbling-window user features."""
    db = _db(spark, sf_dir)
    return hourly_user_features(db.df("events"))


_FUNNEL_STEPS = ["click", "view", "purchase"]
_FUNNEL_WITHIN = 2 * 86400


def _funnel_oracle() -> str:
    from deep_db_learning_spark.operators.temporal import funnel_oracle_sql

    return funnel_oracle_sql("events", _FUNNEL_STEPS, _FUNNEL_WITHIN)


def q_events_windows(spark, sf_dir):
    """Streaming extension, mode-tagged (r7 registry rotation — the
    minhash_dedup merge pattern): ``hourly`` — tumbling 1h per-user
    features (count / exact sum / exact avg / distinct types);
    ``sliding`` — 1h windows every 15min (each event in 4 windows),
    padded with NULL avg_value/n_event_types to the shared schema;
    ``funnel`` (late r7) — the click→view→purchase ordered funnel
    within 2 days (``operators/temporal.funnel``: greedy-earliest
    anchors, decimal-fold mean time-to-step; the oracle is the
    sequential-CTE twin). In funnel rows ``user_id`` carries the step
    index, ``avg_value`` the mean seconds-to-step, ``step_name`` the
    step; the other two modes pad ``step_name`` NULL."""
    from deep_db_learning_spark.operators.temporal import funnel

    db = _db(spark, sf_dir)
    events = db.df("events")
    h = hourly_user_features(events).select(
        F.lit("hourly").alias("mode"),
        "window_start", "user_id", "n_events", "sum_value",
        "avg_value", "n_event_types",
        F.lit(None).cast("string").alias("step_name"),
    )
    from deep_db_learning_spark.streaming import sliding_user_features

    s = sliding_user_features(events).select(
        F.lit("sliding").alias("mode"),
        "window_start", "user_id", "n_events", "sum_value",
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("long").alias("n_event_types"),
        F.lit(None).cast("string").alias("step_name"),
    )
    fu = funnel(events, _FUNNEL_STEPS, _FUNNEL_WITHIN).select(
        F.lit("funnel").alias("mode"),
        F.lit(None).cast(h.schema["window_start"].dataType).alias("window_start"),
        F.col("step").cast("long").alias("user_id"),
        F.col("n_users").cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("avg_seconds").alias("avg_value"),
        F.lit(None).cast("long").alias("n_event_types"),
        F.col("name").alias("step_name"),
    )
    # r8 rotations into this slot (registry stays 50):
    # ``cohort`` — integer-exact cohort retention (user_id carries the
    # cohort period, sum_value the period index, n_events the active
    # count, n_event_types the cohort size, avg_value the retention);
    # ``anomaly`` — per-event rolling z-scores over a 7-day RANGE frame
    # (user_id carries the event_id, n_events the window count,
    # sum_value the rolling mean, avg_value the z-score, n_event_types
    # the is_anomaly flag as 0/1)
    from deep_db_learning_spark.operators.temporal import (
        cohort_retention,
        rolling_anomaly,
    )

    co = cohort_retention(events, period_days=7).select(
        F.lit("cohort").alias("mode"),
        F.lit(None).cast(h.schema["window_start"].dataType).alias("window_start"),
        F.col("cohort_period").alias("user_id"),
        F.col("n_active").alias("n_events"),
        F.col("period_index").cast("double").alias("sum_value"),
        F.col("retention").alias("avg_value"),
        F.col("n_cohort").alias("n_event_types"),
        F.lit(None).cast("string").alias("step_name"),
    )
    def anomaly_shape(scored, tag):
        return scored.select(
            F.lit(tag).alias("mode"),
            F.lit(None).cast(h.schema["window_start"].dataType).alias("window_start"),
            F.col("event_id").cast("long").alias("user_id"),
            F.col("roll_n").alias("n_events"),
            F.col("roll_mean").alias("sum_value"),
            F.col("zscore").alias("avg_value"),
            F.col("is_anomaly").cast("long").alias("n_event_types"),
            F.lit(None).cast("string").alias("step_name"),
        )

    an = anomaly_shape(
        rolling_anomaly(
            events.select("event_id", "user_id", "ts", "value"),
            "user_id", "ts", "value",
            window_seconds=7 * 86400, z_threshold=2.0, min_points=5,
        ),
        "anomaly",
    )
    # r9 rotation: the same rows scored by the STREAMING stateful
    # operator (`streaming/stateful.stream_rolling_anomaly`) — events
    # re-streamed in three ts-range micro-batches; the oracle is the
    # batch RANGE-frame twin again, so the driver hash proves the
    # streaming path reproduces the batch operator bit-for-bit on
    # driver data (the node_store convergence pattern).
    zs = anomaly_shape(_zstream_scores(spark, events), "zstream")
    # r14 rotation: hierarchical ROLLUP over (event_type, hour)
    # (q_events_rollup, previously bench-only) — window_start carries
    # the hour level, step_name the event_type, user_id the
    # grouping_id (disambiguates subtotal NULLs from data NULLs),
    # n_events/sum_value the measures
    ro = (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .rollup("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.lit("rollup").alias("mode"),
            F.col("hour").alias("window_start"),
            F.col("gid").cast("long").alias("user_id"),
            "n_events",
            "sum_value",
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("long").alias("n_event_types"),
            F.col("event_type").alias("step_name"),
        )
    )
    return (
        h.unionByName(s).unionByName(fu).unionByName(co)
        .unionByName(an).unionByName(zs).unionByName(ro)
    )


def _zstream_scores(spark, events):
    """Re-stream events through the stateful rolling z-score operator:
    three ts-range drops with increasing mtimes (per-key in-order
    arrival across micro-batches, equal-ts tie groups never split —
    the operator's documented ordering contract), one file per
    micro-batch, parquet sink, read back and localCheckpoint so the
    temp workspace can be deleted."""
    import shutil
    import tempfile
    import time

    from deep_db_learning_spark.streaming.stateful import (
        stream_rolling_anomaly,
    )

    ev = events.select("event_id", "user_id", "ts", "value")
    lo, hi = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    ).first()
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cuts = [lo + (hi - lo) * (i + 1) // 3 for i in range(2)]
    preds = [us <= cuts[0], (us > cuts[0]) & (us <= cuts[1]), us > cuts[1]]
    work = tempfile.mkdtemp(prefix="zstream_q_")
    src = os.path.join(work, "in")
    now = time.time()
    for i, p in enumerate(preds):
        d = os.path.join(src, f"b{i}")
        ev.filter(p).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    scored = stream_rolling_anomaly(
        stream, window_seconds=7 * 86400, z_threshold=2.0, min_points=5
    )
    out_dir = os.path.join(work, "out")
    q = (
        scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_events_sessions(spark, sf_dir):
    """Streaming extension: gap-based sessionization stats."""
    db = _db(spark, sf_dir)
    return session_stats(db.df("events"), gap_minutes=30)


def q_events_user_profile(spark, sf_dir):
    """Streaming extension + F-family JSON + r7 reshape: whole-history
    profile joined to customer (semi join drops dangling user_ids), a
    per-user sum of the JSON ``props.k`` field — ``get_json_object``
    (a real JSON path parse; the oracle uses DuckDB's
    ``json_extract_string``) — and the WIDE per-event-type value sums
    from ``operators/reshape.pivot_agg`` (single-shuffle conditional
    aggregation over the explicit 5-type domain; the oracle is the
    ``sum(CASE WHEN …)`` form)."""
    from deep_db_learning_spark.operators.reshape import pivot_agg

    db = _db(spark, sf_dir)
    ev = db.df("events")
    prof = user_profile_features(ev)
    ksum = ev.groupBy("user_id").agg(
        F.sum(
            F.get_json_object(F.col("props"), "$.k").cast("bigint")
        ).alias("sum_k")
    )
    wide = pivot_agg(
        ev,
        "user_id",
        "event_type",
        ["click", "error", "purchase", "signup", "view"],
        exact_sum,
        "value",
        prefix="sum_",
        fill=0.0,
    )
    cust = db.df("customer").select("c_custkey")
    return (
        prof.join(ksum, "user_id")
        .join(wide, "user_id")
        .join(cust, prof.user_id == cust.c_custkey, "leftsemi")
        .select(
            "user_id", "n_events", "sum_value", "n_event_types", "sum_k",
            "sum_click", "sum_error", "sum_purchase", "sum_signup",
            "sum_view",
        )
    )


def q_node_store(spark, sf_dir):
    """§2.9 north star, end-to-end, mode-tagged (r7 rotation pattern).

    ``snapshot`` — the events table re-streamed in 4 micro-batches
    through the incremental profile upsert (delta → full-outer merge →
    versioned snapshot commit with an atomic pointer flip); returns the
    FINAL snapshot. The oracle is the plain whole-history SQL profile —
    the driver hash-check therefore proves multi-batch incremental
    maintenance converges to the exact batch answer (decimal-fold sums
    make it batch-boundary-independent).

    ``scd2`` — SCD Type 2 dimension maintenance (``sources/scd.py``):
    the (user_id → event_type, value) change feed applied in THREE
    ts-range batches via ``scd2_apply`` (per-ts tie-break dedup, no-op
    suppression, version close-out). The oracle computes the whole
    history in ONE DuckDB window pass, so the hash match proves the
    engine's batch-boundary-independence contract on driver data.

    ``qhist`` (r9) — the mergeable per-key quantile histogram
    (``streaming/quantile_hist.stream_grouped_hist``): the SAME 4
    random-order micro-batches maintain O(n_bins) integer count
    vectors per user (merge = element-wise addition — commutative, so
    unlike the zstream operator there is NO ordering contract; the
    random split is the point). The oracle computes the histogram
    directly in DuckDB SQL over the whole table — the hash match
    proves the streaming state is a function of the data multiset
    alone. Rows explode to (user, bucket, cnt, total): ``event_type``
    carries the bucket index, ``n_events`` the bucket count,
    ``sum_value`` the user total."""
    import tempfile

    from deep_db_learning_spark.streaming.node_store import (
        SnapshotStore,
        stream_profiles_into_store,
    )

    db = _db(spark, sf_dir)
    ev = db.df("events").select("event_id", "ts", "user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="node_store_q_")
    src = os.path.join(work, "events_split")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_profiles_into_store(
        stream, os.path.join(work, "store"), checkpoint=os.path.join(work, "ckpt")
    )
    q.awaitTermination()
    snap = SnapshotStore(os.path.join(work, "store")).read(spark)
    out = snap.select("user_id", "n_events", "sum_value", "last_ts")
    # the snapshot is small (one row per user): materialize it into
    # Spark-managed blocks so the temp workspace (re-written events,
    # snapshot versions, checkpoint) can be deleted before returning
    out = out.localCheckpoint(eager=True)

    # qhist mode: second stream over the SAME random 4-file feed
    from deep_db_learning_spark.streaming.quantile_hist import (
        reference_cuts,
        stream_grouped_hist,
    )

    cuts = reference_cuts(ev, "value", n_bins=8)
    qh_stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    qh_sink = os.path.join(work, "qhist_out")
    q2 = (
        stream_grouped_hist(qh_stream, "value", cuts)
        .writeStream.format("parquet")
        .option("path", qh_sink)
        .option("checkpointLocation", os.path.join(work, "qh_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    raw = spark.read.parquet(qh_sink)
    # running snapshots → final summary per key = the largest-n row
    from pyspark.sql.window import Window

    wmax = Window.partitionBy("user_id").orderBy(F.desc("n"))
    qh = (
        raw.withColumn("__rk", F.row_number().over(wmax))
        .where(F.col("__rk") == 1)
        .select("user_id", "n", F.posexplode("counts").alias("bucket", "cnt"))
        .localCheckpoint(eager=True)
    )
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    ts_ntz = "timestamp_ntz"
    base = out.select(
        F.lit("snapshot").alias("mode"),
        "user_id", "n_events", "sum_value", "last_ts",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast(ts_ntz).alias("valid_from"),
        F.lit(None).cast(ts_ntz).alias("valid_to"),
    )

    from deep_db_learning_spark.sources.scd import scd2_apply

    ch = ev.select("user_id", "ts", "event_type", "value")
    lo, hi = ch.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    ).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hist = None
    for pred in (us <= b1, (us > b1) & (us <= b2), us > b2):
        hist = scd2_apply(
            hist, ch.filter(pred), "user_id", ["event_type", "value"]
        )
    scd = hist.select(
        F.lit("scd2").alias("mode"),
        "user_id",
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast(ts_ntz).alias("last_ts"),
        "event_type", "value",
        F.col("valid_from").cast(ts_ntz).alias("valid_from"),
        F.col("valid_to").cast(ts_ntz).alias("valid_to"),
    )
    qhist = qh.select(
        F.lit("qhist").alias("mode"),
        "user_id",
        F.col("cnt").alias("n_events"),
        F.col("n").cast("double").alias("sum_value"),
        F.lit(None).cast(ts_ntz).alias("last_ts"),
        F.col("bucket").cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast(ts_ntz).alias("valid_from"),
        F.lit(None).cast(ts_ntz).alias("valid_to"),
    )

    # ``qmerge`` mode (r11 rotation): the mergeable-histogram MERGE
    # OPERATOR under oracle coverage — the corpus splits by event_id
    # parity, each half's per-user histogram builds in batch, and
    # ``merge_hists`` combines them; the oracle computes the
    # whole-table histogram directly, so the hash match IS the
    # operator's defining contract, merge(hist(A), hist(B)) ≡
    # hist(A ∪ B), on driver data
    from deep_db_learning_spark.streaming.quantile_hist import (
        grouped_hist,
        merge_hists,
    )

    merged = merge_hists(
        grouped_hist(
            ev.where(F.col("event_id") % 2 == 0), "user_id", "value", cuts
        ),
        grouped_hist(
            ev.where(F.col("event_id") % 2 == 1), "user_id", "value", cuts
        ),
    )
    qmerge = merged.select(
        F.lit("qmerge").alias("mode"),
        "user_id",
        F.lit(None).cast(ts_ntz).alias("last_ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast(ts_ntz).alias("valid_from"),
        F.lit(None).cast(ts_ntz).alias("valid_to"),
        F.col("n").cast("double").alias("sum_value"),
        F.posexplode("counts").alias("bucket", "n_events"),
    ).select(
        "mode", "user_id", "n_events", "sum_value", "last_ts",
        F.col("bucket").cast("string").alias("event_type"),
        "value", "valid_from", "valid_to",
    )

    # ``diff`` mode (r11 rotation): time-travel diff between two store
    # versions (``node_store.snapshot_diff`` — full-outer key join +
    # null-safe struct comparison). A second store commits the
    # CUMULATIVE user profile at the first two scd2 ts-thirds (the
    # boundaries computed above), so the version contents — unlike the
    # random 4-file stream batches — are pure SQL predicates the
    # oracle recomputes; the diff rows flatten as: event_type ← op,
    # (n_events, sum_value, last_ts) ← the NEW side, value ← the old
    # sum, valid_from ← the old last_ts.
    from deep_db_learning_spark.streaming.node_store import snapshot_diff

    work2 = tempfile.mkdtemp(prefix="node_store_diff_")
    st2 = SnapshotStore(os.path.join(work2, "store"))

    def profile(pred):
        return ch.filter(pred).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )

    st2.commit(profile(us <= b1), batch_id=1)
    st2.commit(profile(us <= b2), batch_id=2)
    diff = snapshot_diff(spark, st2, "user_id", v_from=1, v_to=2).select(
        F.lit("diff").alias("mode"),
        "user_id",
        F.col("new.n_events").alias("n_events"),
        F.col("new.sum_value").alias("sum_value"),
        F.col("new.last_ts").cast(ts_ntz).alias("last_ts"),
        F.col("op").alias("event_type"),
        F.col("old.sum_value").alias("value"),
        F.col("old.last_ts").cast(ts_ntz).alias("valid_from"),
        F.lit(None).cast(ts_ntz).alias("valid_to"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(work2, ignore_errors=True)
    return (
        base.unionByName(scd)
        .unionByName(qhist)
        .unionByName(qmerge)
        .unionByName(diff)
    )


def q_event_funnel(spark, sf_dir):
    """Bench/probe entry: the click→view→purchase ordered funnel within
    2 days (``operators/temporal.funnel``) — per-step reach counts +
    exact-decimal mean time-to-step. k−1 co-partitioned joins on the
    user key; no window over the whole event set."""
    from deep_db_learning_spark.operators.temporal import funnel

    db = _db(spark, sf_dir)
    return funnel(
        db.df("events"), ["click", "view", "purchase"], 2 * 86400
    )


def q_scd2_apply(spark, sf_dir):
    """Bench/probe entry: SCD Type 2 maintenance (``sources/scd.py``) —
    the events change feed applied in THREE ts-range batches. Between
    batches the history is locally checkpointed: in production the
    history lives in the dimension store between change batches (each
    apply reads the stored table), so the bench must not let Spark
    re-derive batch 1's history lazily inside batch 3's plan — the
    checkpoint stands in for that store write. The per-batch cost is
    ONE hash shuffle of (open rows + batch) on the key; closed rows
    stream through a filter+union untouched."""
    from deep_db_learning_spark.sources.scd import scd2_apply

    db = _db(spark, sf_dir)
    ch = db.df("events").select("user_id", "ts", "event_type", "value")
    lo, hi = ch.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    ).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hist = None
    for i, pred in enumerate((us <= b1, (us > b1) & (us <= b2), us > b2)):
        hist = scd2_apply(
            hist, ch.filter(pred), "user_id", ["event_type", "value"]
        )
        if i < 2:  # the store write between batches; the last apply
            hist = hist.localCheckpoint(eager=False)  # stays a SQL plan
    return hist


def q_events_asof_purchase(spark, sf_dir):
    """Temporal extension: backward as-of join — each event annotated
    with the user's most recent purchase (value + its timestamp) at
    event time. Union + single window pass, one shuffle on the key."""
    from deep_db_learning_spark.operators.temporal import asof_join

    db = _db(spark, sf_dir)
    ev = db.df("events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(
        left, right, on="user_id", left_ts="ts", payload=["purchase_value"]
    ).withColumnRenamed("ts_asof", "purchase_ts")


def q_events_conversion_window(spark, sf_dir):
    """Temporal extension: range join — purchases falling in the hour
    after a click by the same user (conversion attribution), aggregated
    per click. Binned equi-join + exact residual predicate."""
    from deep_db_learning_spark.operators.temporal import range_join

    db = _db(spark, sf_dir)
    ev = db.df("events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
        )
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = range_join(
        purchases, clicks, on="user_id", left_point="ts",
        right_start="start_ts", right_end="end_ts", bin_width="1 hour",
    )
    return j.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("conversions"),
        exact_sum("value").alias("conv_value"),
    )


def q_events_temporal_join(spark, sf_dir):
    """Temporal extension merged, mode-tagged (r7 rotation pattern):

    - ``asof_range``: for each CLICK event, (a) backward as-of join —
      the user's most recent purchase value/timestamp at click time
      (union + single window pass, one shuffle on the key) — and (b)
      range join — purchases in the hour after the click by the same
      user (binned equi-join + exact residual predicate), aggregated
      to a conversion count/value. One row per click.
    - ``feature_frame``: the point-in-time feature-store join
      (``plans/feature_store.py``) — purchase events as the labeled
      spine (its own value in the purchase_value slot), a 3-day-
      staleness as-of view of the latest 'view' event, and a 24 h
      trailing rolling count/decimal-exact sum of click values.
      Leakage-free by construction; `point_in_time_audit`-checked in
      pytest. One row per purchase.
    """
    from deep_db_learning_spark.operators.temporal import asof_join, range_join
    from deep_db_learning_spark.plans.feature_store import (
        FeatureView,
        RollingFeature,
        build_training_frame,
    )

    db = _db(spark, sf_dir)
    ev = db.df("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    asof = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", payload=["purchase_value"]
    ).withColumnRenamed("ts_asof", "purchase_ts")
    windows = clicks.select(
        "click_id", "user_id", F.col("ts").alias("start_ts")
    ).withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR"))
    conv = range_join(
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        windows,
        on="user_id",
        left_point="ts",
        right_start="start_ts",
        right_end="end_ts",
        bin_width="1 hour",
    ).groupBy("click_id").agg(
        F.count(F.lit(1)).alias("conversions"),
        exact_sum("value").alias("conv_value"),
    )
    base = asof.join(conv, "click_id", "left").select(
        F.lit("asof_range").alias("mode"),
        F.col("click_id").alias("id"),
        "user_id",
        "ts",
        "purchase_value",
        "purchase_ts",
        "conversions",
        "conv_value",
        F.lit(None).cast("double").alias("view_value"),
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(None).cast("bigint").alias("clicks_24h"),
        F.lit(None).cast("double").alias("click_value_24h"),
        F.lit(None).cast("string").alias("channel"),
    )
    spine = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id"), "user_id", "ts",
        F.col("value").alias("label"),
    )
    ff = build_training_frame(
        spine,
        "user_id",
        "ts",
        views=[
            FeatureView(
                name="lastview",
                source=ev.filter(F.col("event_type") == "view"),
                entity_col="user_id",
                ts_col="ts",
                features=["value"],
                max_staleness="3 days",
                tie_break=["event_id"],
            )
        ],
        rollings=[
            RollingFeature(
                name="clicks24",
                source=ev.filter(F.col("event_type") == "click"),
                entity_col="user_id",
                ts_col="ts",
                window="24 hours",
                value_col="value",
            )
        ],
    ).select(
        F.lit("feature_frame").alias("mode"),
        "id",
        "user_id",
        "ts",
        F.col("label").alias("purchase_value"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        F.lit(None).cast("bigint").alias("conversions"),
        F.lit(None).cast("double").alias("conv_value"),
        F.col("lastview_value").alias("view_value"),
        F.col("lastview_ts").alias("view_ts"),
        F.col("clicks24_cnt").alias("clicks_24h"),
        F.col("clicks24_sum").alias("click_value_24h"),
        F.lit(None).cast("string").alias("channel"),
    )
    # ``attr_*`` modes (r9; +ushape r10): multi-touch conversion
    # attribution (`operators/temporal.attribution` — touches pair
    # with conversions through the binned range_join, one window pass
    # yields ALL FIVE credit models first/last/linear/ushape/decay,
    # exact decimal credit folds); `channel` carries the touch
    # event_type, conversions the touch count, conv_value the credited
    # conversions. The oracle replays the identical window predicate
    # and tie order in SQL — both sides enumerate models from the
    # SHARED attribution implementation, so the mode list cannot
    # drift.
    from deep_db_learning_spark.operators.temporal import attribution

    attr = attribution(ev).select(
        F.concat(F.lit("attr_"), F.col("model")).alias("mode"),
        F.lit(None).cast("bigint").alias("id"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        F.col("n_touches").alias("conversions"),
        F.col("credit").alias("conv_value"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(None).cast("bigint").alias("clicks_24h"),
        F.lit(None).cast("double").alias("click_value_24h"),
        F.col("event_type").alias("channel"),
    )
    return base.unionByName(ff).unionByName(attr)


def q_customer_features(spark, sf_dir):
    """Flagship feature table (entry() at driver-chosen sf; bench.py
    times THIS core path so the timing stays comparable across rounds —
    the q_pagerank/q_graph_iter pattern; the driver registry runs the
    mode-merged :func:`q_customer_features_modes`)."""
    return _customer_features(spark, sf_dir)


def q_customer_features_modes(spark, sf_dir):
    """Flagship feature table + the r8 feature-engineering rotation,
    mode-tagged (the edge_augment merge pattern; registry stays 50):
    ``features`` — the graph-aggregate table ``entry()`` serves;
    ``te`` — leakage-safe OUT-OF-FOLD target encoding of c_mktsegment
    against c_acctbal (``functions/feature_eng.target_encode_oof``:
    row-local knuth k-fold, decimal-fold (cat × fold) grid, m-estimate
    smoothing toward the out-of-fold prior — the oracle replays the
    whole leakage structure via ``target_encode_oracle_sql``, so the
    hash match pins that no row ever sees its own fold's statistics);
    ``bin`` — equal-frequency decile binning of c_acctbal with cut
    points from exact NO-SORT order statistics
    (``bin_by_quantiles`` over ``operators/sketch.exact_quantiles``;
    the oracle's cuts come from a full-sort twin);
    ``scale`` (r9 rotation) — winsorized + robust-scaled c_acctbal in
    one frame (``functions/feature_eng.winsorize`` clamps to the exact
    [0.01, 0.99] order statistics, ``robust_scale`` is
    ``(x − median)/IQR`` — both row-local codegen after bounded
    quantile jobs; the oracle recomputes the cuts by full sort)."""
    from deep_db_learning_spark.functions.feature_eng import (
        bin_by_quantiles,
        robust_scale,
        target_encode_oof,
        winsorize,
    )

    db = _db(spark, sf_dir)
    base = _customer_features(spark, sf_dir)
    pad = {
        "ord_mean_totalprice": "double",
        "ord_sum_totalprice": "double",
        "ord_cnt": dict(base.dtypes)["ord_cnt"],
        "ev_sum_value": "double",
        "ev_cnt": dict(base.dtypes)["ev_cnt"],
        "split": "string",
    }

    def pad_cols():
        return [F.lit(None).cast(t).alias(c) for c, t in pad.items()]

    def tail_cols(te=None, acct_bin=None, wins=None, rs=None):
        return [
            (F.lit(None).cast("double") if te is None else F.col(te)).alias("te"),
            (F.lit(None).cast("int") if acct_bin is None else F.col(acct_bin)).alias("acct_bin"),
            (F.lit(None).cast("double") if wins is None else F.col(wins)).alias("wins"),
            (F.lit(None).cast("double") if rs is None else F.col(rs)).alias("rs"),
        ]

    feats = base.select(
        F.lit("features").alias("mode"),
        "c_custkey", "c_mktsegment",
        *[F.col(c) for c in pad],
        *tail_cols(),
    )
    cust = db.df("customer")
    te = target_encode_oof(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        "c_mktsegment", "c_acctbal", "c_custkey",
    ).select(
        F.lit("te").alias("mode"),
        "c_custkey", "c_mktsegment",
        *pad_cols(),
        *tail_cols(te="c_mktsegment_te"),
    )
    bins = bin_by_quantiles(
        cust.select("c_custkey", "c_acctbal"), "c_acctbal", n_bins=10
    ).select(
        F.lit("bin").alias("mode"),
        "c_custkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        *pad_cols(),
        *tail_cols(acct_bin="c_acctbal_bin"),
    )
    scaled = robust_scale(
        winsorize(cust.select("c_custkey", "c_acctbal"), "c_acctbal"),
        "c_acctbal",
    ).select(
        F.lit("scale").alias("mode"),
        "c_custkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        *pad_cols(),
        *tail_cols(wins="c_acctbal_wins", rs="c_acctbal_rs"),
    )
    return feats.unionByName(te).unionByName(bins).unionByName(scaled)


def q_train_step(spark, sf_dir):
    """Scaleprobe-only: ONE minibatch step of the two-layer stack
    trainer (epochs=1, n_batches=1 — assembly + forward folds + head +
    backward folds + the joined-hbar eval). The probe's point
    (VERDICT r4 #2): at 10× facts the step must scale through the
    Spark folds alone — the only driver-side materialization is the
    root seed-node set, which does NOT grow with the fact tables."""
    from deep_db_learning_spark.plans.training import train_relational_two_layer

    db = _db(spark, sf_dir)
    res = train_relational_two_layer(
        db.tables, db.primary_keys, db.foreign_keys,
        epochs=1, n_batches=1, seed=42, neighbor_budget=5,
    )
    rows = [(i, float(l)) for i, l in enumerate(res.losses)]
    return spark.createDataFrame(rows, "step int, train_loss double")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's correctness gate checks 50
    queries per round, so the registry is curated to that budget with
    every operator family covered (merged queries carry multiple
    operators; see each docstring). Additional shapes that lost their
    slot to the merge (bfs_depth2 global BFS, events_rollup, per-group
    top-k, the extra TPC-H variants, the unmerged text/temporal halves)
    remain as module-level ``q_*`` functions exercised by bench.py and
    tests — they are timed and pytest-checked, just not driver-hashed.
    """
    return {
        # catalog / profiling / stores (S, P, A families)
        "catalog_columns": q_catalog_columns,
        "profile_customer": q_profile_customer,
        "schema_inference": q_schema_inference,
        "constraints": q_constraints,
        "db_copy_row_pick": q_db_copy_row_pick,
        "constant_columns": q_constant_columns,
        "cardinality_reconcile": q_cardinality_reconcile,
        # r8 rotation: + pairwise correlations; bench times the core
        "lineitem_numeric_profile": q_lineitem_numeric_profile_modes,
        "graph_stats": q_graph_stats,
        # converters (F family); r7 rotation: datetime_decompose +
        # events_time_convert merged under one mode tag
        "encode_mktsegment": q_encode_mktsegment,
        "time_convert": q_time_convert,
        "normalize_cname": q_normalize_cname,
        "impute_acctbal": q_impute_acctbal,
        "convert_orders": q_convert_orders,
        "multilabel_event_types": q_multilabel_event_types,
        # graph build / sampling (J, N26-N28)
        "edges_orders_customer": q_edges_orders_customer,
        "edge_augment": q_edge_augment,
        "neighbor_sample": q_neighbor_sample,
        "node_split": q_node_split,
        # r14 rotation: + the global whole-frontier BFS mode
        "bfs_per_root": q_bfs_per_root_and_global,
        # message passing / training (N families)
        "embed_customer": q_embed_customer,
        "message_mean_conv": q_message_mean_conv,
        "message_2hop": q_message_2hop,
        "attention_aggregate": q_attention_aggregate,
        "train_relational": q_train_relational,
        "eval_metrics": q_eval_metrics,
        # generic relational shapes
        "tpch_q1": q_tpch_q1_modes,
        "tpch_q3": q_tpch_q3_modes,
        "tpch_q5": q_tpch_q5_modes,
        "tpch_q6": q_tpch_q6,
        # r8 rotation: the driver slot also carries Q2 + Q21; bench
        # times the unmerged q18+q10 core (q_tpch_q18)
        "tpch_q18": q_tpch_q18_modes,
        # LLM data pipeline (dedup / similarity / text); r7 rotation:
        # dedup_exact + simhash merged as fingerprint_dedup
        "fingerprint_dedup": q_fingerprint_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "text_dedup_clusters": q_text_dedup_clusters,
        "decontamination": q_decontamination,
        "minhash_dedup": q_minhash_dedup,
        # r7 rotation: text_metrics + the stupid-backoff-LM perplexity
        # scores merged under one mode tag
        "text_quality": q_text_quality,
        "embedding_topk": q_embedding_topk,
        "embedding_neardup": q_embedding_neardup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "text_search": q_text_search,
        # r7: sketch family + iterative graph algorithm
        "sketches": q_sketches,
        "pagerank": q_graph_iter,
        # streaming / temporal extensions
        "events_windows": q_events_windows,
        "events_sessions": q_events_sessions,
        "events_user_profile": q_events_user_profile,
        "node_store": q_node_store,
        "events_temporal_join": q_events_temporal_join,
        # r8 rotation: the driver slot carries the te/bin feature-eng
        # modes; bench times the unmerged core q_customer_features
        "customer_features": q_customer_features_modes,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_KNUTH_SRC = knuth_hash_sql("src", 42)


def _schema_inference_oracle() -> str:
    """DuckDB twin of the FLAGSHIP semantic-type inference. The
    VALUE-driven decisions (cardinalities, distinct/non-null ratios,
    the too-many-distinct branches, per-cat card) are computed in SQL
    from the data; the NAME-driven predicates (id/numeric-name regexes,
    plural heuristic) and the PK/FK constraint gates are metadata over
    the static column list, precomputed here with the analyzer's own
    regex objects so the two sides can never drift."""
    from deep_db_learning_spark.profiling.analyzer import (
        COMMON_NUMERIC_COLUMN_NAME_REGEX,
        FRACTION_DISTINCT_TO_NONNULL_IGNORE_THRESHOLD as THR,
        ID_NAME_REGEX,
        MAXIMUM_CARDINALITY_THRESHOLD as MAXC,
        _is_plural,
    )
    from deep_db_learning_spark.schema import tpch_primary_keys, tpch_star_schema_fks

    catalog = {
        "region": [("r_regionkey", "int"), ("r_name", "string")],
        "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
        "customer": [
            ("c_custkey", "int"), ("c_name", "string"), ("c_nationkey", "int"),
            ("c_acctbal", "num"), ("c_mktsegment", "string"),
        ],
        "supplier": [
            ("s_suppkey", "int"), ("s_name", "string"), ("s_nationkey", "int"),
            ("s_acctbal", "num"),
        ],
        "part": [
            ("p_partkey", "int"), ("p_name", "string"), ("p_brand", "string"),
            ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "num"),
        ],
        "orders": [
            ("o_orderkey", "int"), ("o_custkey", "int"), ("o_orderstatus", "string"),
            ("o_totalprice", "num"), ("o_orderdate", "datetime"),
            ("o_orderpriority", "string"),
        ],
        "lineitem": [
            ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
            ("l_linenumber", "int"), ("l_quantity", "num"),
            ("l_extendedprice", "num"), ("l_discount", "num"), ("l_tax", "num"),
            ("l_returnflag", "string"), ("l_linestatus", "string"),
            ("l_shipdate", "datetime"),
        ],
        "events": [
            ("event_id", "int"), ("ts", "datetime"), ("user_id", "int"),
            ("event_type", "string"), ("value", "num"), ("props", "string"),
        ],
        "documents": [
            ("doc_id", "int"), ("text", "string"), ("lang", "string"),
            ("source", "string"), ("n_chars", "int"),
        ],
        "embeddings": [
            ("vec_id", "int"), ("embedding", "other"), ("label", "int"),
        ],
    }
    pks, fks = tpch_primary_keys(), tpch_star_schema_fks()
    meta_rows, stats_selects = [], []
    for t, cols in catalog.items():
        pk = pks.get(t, [])
        fk_cols = {fk.columns[0] for fk in fks.get(t, []) if len(fk.columns) == 1}
        for c, fam in cols:
            lone_pk = c in pk and len(pk) == 1
            flags = [
                lone_pk,
                c in pk,
                c in fk_cols,
                bool(ID_NAME_REGEX.search(c)),
                bool(COMMON_NUMERIC_COLUMN_NAME_REGEX.search(c)),
                _is_plural(c),
            ]
            sql_flags = ", ".join(str(v).upper() for v in flags)
            meta_rows.append(f"('{t}', '{c}', '{fam}', {sql_flags})")
            if fam in ("int", "string", "bool") and not lone_pk and not (c in fk_cols):
                stats_selects.append(
                    f"SELECT '{t}' AS table_name, '{c}' AS column_name,"
                    f" count(DISTINCT {c}) + CAST(bool_or({c} IS NULL) AS INT) AS nd,"
                    f" count({c}) AS nn FROM {t}"
                )
    meta_values = ",\n              ".join(meta_rows)
    stats_union = "\n              UNION ALL ".join(stats_selects)
    return f"""
        WITH meta(table_name, column_name, family, lone_pk, is_pk, is_fk,
                  id_hit, num_hit, plural) AS (
            VALUES {meta_values}
        ), stats AS (
              {stats_union}
        ), d AS (
            SELECT m.*, s.nd, s.nn,
              CASE
                WHEN m.lone_pk THEN 'omit'
                WHEN m.is_fk THEN 'omit'
                WHEN m.family = 'num' THEN 'num'
                WHEN m.family IN ('date', 'datetime', 'duration') THEN m.family
                WHEN m.family = 'other' THEN 'omit'
                WHEN m.family = 'bool' THEN 'cat'
                WHEN s.nn = 0 THEN 'omit'
                WHEN m.family = 'int' THEN
                  CASE WHEN (s.nd / s.nn > {THR} OR s.nd > {MAXC})
                       THEN (CASE WHEN m.id_hit THEN 'omit' ELSE 'num' END)
                       WHEN m.num_hit THEN 'num'
                       WHEN m.plural THEN 'num'
                       ELSE 'cat' END
                ELSE
                  CASE WHEN (s.nd / s.nn > {THR} OR s.nd > {MAXC})
                       THEN (CASE WHEN m.id_hit THEN 'omit' ELSE 'text' END)
                       ELSE 'cat' END
              END AS sem_type
            FROM meta m LEFT JOIN stats s USING (table_name, column_name)
        )
        SELECT table_name, column_name, sem_type, is_pk AS is_key,
               CASE WHEN sem_type = 'cat' THEN CAST(nd AS INT) END AS card
        FROM d
    """


def _sumsq_sql(c: str) -> str:
    """Decimal-fold sum of squares (DuckDB twin of the Spark side in
    ``profiling.profiler.numeric_stats``): (19,6) operands force
    DuckDB's int128 storage (int64-backed DECIMAL(18) overflows in the
    multiply) while 19+19 = 38 keeps the product type legal; VARCHAR
    hop for the correctly-rounded double (see ``exact_sum_sql``).
    Inputs have ≤6 fractional digits, so both engines' folds are exact
    regardless of their differing intermediate scales."""
    return (
        f"CAST(CAST(sum(CAST({c} AS DECIMAL(19,6)) * CAST({c} AS DECIMAL(19,6)))"
        " AS VARCHAR) AS DOUBLE)"
    )

_SHINGLE_CTE = """
  SELECT doc_id,
         list_distinct(CASE WHEN length(text) < 5 THEN [text]
           ELSE list_transform(range(1, length(text) - 3), i -> substr(text, i, 5)) END) AS grams
  FROM documents
"""


SNIPPET_W = 20  # snippet window tokens, shared engine/oracle


def _text_search_oracle(
    k: int = 10, k1: float = 1.2, b: float = 0.75, rrf_k: float = 60.0
) -> str:
    """DuckDB twin of the mode-tagged q_text_search (r7). ``bm25``:
    inverted postings → query VALUES join → exact-decimal score fold →
    deterministic rank; ``jacc``: distinct-token overlap with the
    integer union identity la+lb−ov; ``rrf``: full-outer fusion with
    the fixed-order reciprocal-rank fold. The idf literals are python
    ``math.log`` over exact (N, df) integers recomputed HERE at
    oracle-build time from the raw parquet (the temperature_fractions
    pattern) and the score expressions come from the same
    ``operators/search.py`` helpers the engine executes — the engines
    never evaluate a transcendental, only identical IEEE trees."""
    import duckdb

    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    tok = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    n_docs, total = con.execute(
        f"SELECT count(*), sum(len({tok})) FROM documents"
    ).fetchone()
    avgdl = total / n_docs
    qterms = {qid: search.tokenize_query(q) for qid, q in TEXT_SEARCH_QUERIES}
    vocab = sorted({t for ts in qterms.values() for t in ts})
    dfc = dict(
        con.execute(
            f"""
        SELECT term, count(*) FROM (
          SELECT doc_id, t.term FROM documents, unnest({tok}) AS t(term)
          GROUP BY doc_id, t.term)
        WHERE term IN ({','.join("'" + t + "'" for t in vocab)})
        GROUP BY term"""
        ).fetchall()
    )
    con.close()
    idf = {t: search.bm25_idf(n_docs, dfc.get(t, 0)) for t in vocab}
    qvals = ", ".join(
        f"({qid}, '{t}', {search.dlit(idf[t])})"
        for qid, ts in qterms.items()
        for t in ts
    )
    jqvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in qterms.items() for t in ts
    )
    qsz = ", ".join(f"({qid}, {len(ts)})" for qid, ts in qterms.items())
    rank = (
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, doc_id) AS INTEGER)"
    )
    # phrase mode: one SELECT per phrase over the positional CTE,
    # chaining list_intersect(list_transform(cur, +1), next.positions)
    phrase_selects = []
    for qid, phrase in TEXT_SEARCH_PHRASES:
        terms = search.tokenize_phrase(phrase)
        joins, cur = [], "c0.positions"
        for i, t in enumerate(terms[1:], 1):
            joins.append(
                f"JOIN ppx c{i} ON c{i}.doc_id = c0.doc_id"
                f" AND c{i}.term = '{t}'"
            )
            cur = (
                f"list_intersect(list_transform({cur}, x -> x + 1), "
                f"c{i}.positions)"
            )
        phrase_selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS query_id, c0.doc_id, "
            f"CAST(len({cur}) AS DOUBLE) AS score "
            f"FROM ppx c0 {' '.join(joins)} "
            f"WHERE c0.term = '{terms[0]}' AND len({cur}) > 0"
        )
    phrase_union = " UNION ALL ".join(phrase_selects)
    return f"""
        WITH post AS (
          SELECT doc_id, len({tok}) AS dl, t.term, count(*) AS tf
          FROM documents, unnest({tok}) AS t(term)
          GROUP BY doc_id, dl, t.term
        ), q(query_id, term, idf) AS (VALUES {qvals}),
        sc AS (
          SELECT q.query_id, p.doc_id,
                 {exact_sum_sql(search.bm25_score_expr(k1, b, avgdl))} AS score
          FROM post p JOIN q USING (term) GROUP BY q.query_id, p.doc_id
        ), bm AS (
          SELECT query_id, doc_id, {rank} AS rank, score
          FROM sc QUALIFY rank <= {k}
        ),
        dtok AS (
          SELECT doc_id, len(list_distinct({tok})) AS da, t.term
          FROM documents, unnest(list_distinct({tok})) AS t(term)
        ), jq(query_id, term) AS (VALUES {jqvals}),
        qs(query_id, db) AS (VALUES {qsz}),
        jov AS (
          SELECT jq.query_id, d.doc_id, d.da, count(*) AS ov
          FROM dtok d JOIN jq USING (term)
          GROUP BY jq.query_id, d.doc_id, d.da
        ), jsc AS (
          SELECT query_id, doc_id, {search.jaccard_score_expr()} AS score
          FROM (SELECT jov.*, qs.db FROM jov JOIN qs USING (query_id))
        ), ja AS (
          SELECT query_id, doc_id, {rank} AS rank, score
          FROM jsc QUALIFY rank <= {k}
        ),
        fused AS (
          SELECT coalesce(a.query_id, b.query_id) AS query_id,
                 coalesce(a.doc_id, b.doc_id) AS doc_id,
                 {search.rrf_score_expr(['a.rank', 'b.rank'], rrf_k)} AS score
          FROM bm a FULL OUTER JOIN ja b
            ON a.query_id = b.query_id AND a.doc_id = b.doc_id
        ), rr AS (
          SELECT query_id, doc_id, {rank} AS rank, score
          FROM fused QUALIFY rank <= {k}
        ),
        ppx AS (
          SELECT doc_id, t.term, list_sort(list(t.i)) AS positions
          FROM (SELECT doc_id, {tok} AS toks FROM documents) d,
               LATERAL (SELECT toks[CAST(i AS INT)] AS term,
                               CAST(i AS INT) AS i
                        FROM unnest(generate_series(1, len(toks))) AS s(i)) t
          GROUP BY doc_id, t.term
        ), phr AS ({phrase_union}),
        ph AS (
          SELECT query_id, doc_id, {rank} AS rank, score
          FROM phr QUALIFY rank <= {k}
        ),
        mt AS (
          SELECT q.query_id, p.doc_id, p.term, CAST(u.pos AS INT) AS pos
          FROM ppx p JOIN q USING (term), unnest(p.positions) AS u(pos)
          WHERE (q.query_id, p.doc_id) IN
                (SELECT (query_id, doc_id) FROM bm)
        ),
        wins AS (
          SELECT a.query_id, a.doc_id, a.pos AS s,
                 count(DISTINCT b.term) AS n_terms
          FROM mt a JOIN mt b
            ON b.query_id = a.query_id AND b.doc_id = a.doc_id
           AND b.pos >= a.pos AND b.pos <= a.pos + {SNIPPET_W - 1}
          GROUP BY a.query_id, a.doc_id, a.pos
        ),
        bestw AS (
          SELECT query_id, doc_id, CAST(s AS INT) AS snippet_start,
                 row_number() OVER (PARTITION BY query_id, doc_id
                                    ORDER BY n_terms DESC, s) AS r
          FROM wins QUALIFY r = 1
        ),
        sn AS (
          SELECT bm.query_id, bm.doc_id, bm.rank, bm.score,
                 array_to_string(
                   d.toks[b.snippet_start : b.snippet_start + {SNIPPET_W - 1}],
                   ' ') AS snippet
          FROM bm
          JOIN bestw b USING (query_id, doc_id)
          JOIN (SELECT doc_id, {tok} AS toks FROM documents) d
            ON d.doc_id = bm.doc_id
        )
        SELECT 'bm25' AS mode, bm.*, CAST(NULL AS VARCHAR) AS snippet FROM bm
        UNION ALL SELECT 'jacc', ja.*, CAST(NULL AS VARCHAR) FROM ja
        UNION ALL SELECT 'rrf', rr.*, CAST(NULL AS VARCHAR) FROM rr
        UNION ALL SELECT 'phrase', ph.*, CAST(NULL AS VARCHAR) FROM ph
        UNION ALL SELECT 'snippet', sn.* FROM sn
    """


def _minhash_dedup_oracle(
    num_perm: int = 64, bands: int = 16, shingle_k: int = 9, threshold: float = 0.7
) -> str:
    """DuckDB twin of the mode-tagged q_minhash_dedup (r6). ``all``:
    the FULL minhash_lsh_dedup pipeline — portable rolling shingle
    hashes → permutation-min signature → md5 band buckets → candidate
    pairs → exact-Jaccard verify on the same hash sets → survivor
    anti-join; every step engine-independent arithmetic (Horner fold
    over code points, Knuth multiplicative perms, md5 prefix buckets —
    operators/dedup.py, functions/hashing.py). ``incr``: the same
    band machinery with buckets joined ACROSS the odd/even corpus
    halves and the verify on distinct STRING shingles (the
    ``minhash_dedup_against`` contract — its union size is
    la+lb−inter for distinct sets). ``mix``: the temperature_fractions
    → stratified_sample keep set, with the n^0.5 fractions recomputed
    here at oracle-build time by an independent python twin over the
    raw parquet and inlined as repr literals (so both engines compare
    the identical doubles — no SQL pow() ulp risk)."""
    import os

    import duckdb

    from deep_db_learning_spark.functions.hashing import KNUTH, MERSENNE_31
    from deep_db_learning_spark.operators.dedup import SHINGLE_B, SHINGLE_P
    from deep_db_learning_spark.operators.mixing import stratified_sample_sql
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    rpb = num_perm // bands
    gram_hash = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(string_split(g, ''),"
        " ch -> CAST(CASE WHEN ch = '' THEN 0 ELSE ord(ch) END AS BIGINT))),"
        f" (acc, ch) -> (acc * {SHINGLE_B} + ch) % {SHINGLE_P})"
    )
    grams_expr = (
        f"CASE WHEN length(text) < {shingle_k} THEN [text] "
        f"ELSE list_transform(range(1, length(text) - {shingle_k - 2}), "
        f"i -> substr(text, i, {shingle_k})) END"
    )

    def chain(tag: str, src: str) -> str:
        """sh/sig/banded CTE bodies for one corpus."""
        return f"""
        sh_{tag} AS (
          SELECT doc_id,
                 list_distinct(list_transform({grams_expr}, g -> {gram_hash})) AS h,
                 list_distinct({grams_expr}) AS grams
          FROM {src}
        ), sig_{tag} AS (
          SELECT doc_id, list_transform(range(0, {num_perm}), i ->
            list_min(list_transform(h,
              x -> ((x % {MERSENNE_31} + i) * {KNUTH}) % {MERSENNE_31}))) AS s
          FROM sh_{tag}
        ), banded_{tag} AS (
          SELECT doc_id, b AS band,
                 CAST(('0x' || substr(md5(array_to_string(
                   s[b * {rpb} + 1 : b * {rpb} + {rpb}], ',')), 1, 8)) AS BIGINT) AS bucket
          FROM sig_{tag} CROSS JOIN range(0, {bands}) r(b)
        )"""

    # independent twin of temperature_fractions(alpha=0.5,
    # target_rows=0.6·total): counts from the raw parquet, the same
    # float expression sequence, inlined by repr into the keep
    # predicate
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    counts = dict(
        con.execute(
            f"SELECT source, count(*) FROM read_parquet('{sf}/documents.parquet') "
            "WHERE source IS NOT NULL GROUP BY source"
        ).fetchall()
    )
    total = con.execute(
        f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet')"
    ).fetchone()[0]
    target_rows = int(0.6 * total)
    weights = {s: float(n) ** 0.5 for s, n in counts.items()}
    tot_w = sum(weights[s] for s in sorted(weights))
    fractions = {
        s: min(1.0, target_rows * (weights[s] / tot_w) / counts[s]) for s in counts
    }
    mix_sql = stratified_sample_sql("documents", "source", fractions, "doc_id")

    # dw twin (r11): per-source exact decimal score folds read back as
    # the identical doubles the engine's exact_sum produces, the
    # exponential tilt through the SHARED domain_weight_py, the
    # resulting rows inlined as exact double literals
    from deep_db_learning_spark.operators.mixing import domain_weight_py
    from deep_db_learning_spark.operators.search import dlit

    dw_stats = {
        s: (float(sm), int(n))
        for s, sm, n in con.execute(
            "SELECT source, CAST(CAST(sum(CAST(CAST(n_chars AS DOUBLE) "
            "AS DECIMAL(30,9))) AS VARCHAR) AS DOUBLE), count(*) "
            f"FROM read_parquet('{sf}/documents.parquet') "
            "WHERE source IS NOT NULL AND n_chars IS NOT NULL "
            "GROUP BY source"
        ).fetchall()
    }
    dw_out = domain_weight_py(dw_stats, eta=0.002, floor=0.05)
    dw_vals = ", ".join(
        f"('{d}', {dw_stats[d][1]}, {dlit(m)}, {dlit(e)}, {dlit(w)})"
        for d, (m, e, w) in sorted(dw_out.items())
    )

    return f"""
        WITH {chain("all", "documents")}, cand AS (
          SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
          FROM banded_all a JOIN banded_all c
            ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
        ), verified AS (
          SELECT DISTINCT cand.id_b
          FROM cand JOIN sh_all x ON x.doc_id = cand.id_a
                    JOIN sh_all y ON y.doc_id = cand.id_b
          WHERE round(len(list_intersect(x.h, y.h))::DOUBLE /
                (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h))), 6)
                >= {threshold}
        ),
        docs_new AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        docs_ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        {chain("new", "docs_new")}, {chain("ref", "docs_ref")},
        cand_x AS (
          SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
          FROM banded_new n JOIN banded_ref r
            ON n.band = r.band AND n.bucket = r.bucket
        ), matched AS (
          SELECT DISTINCT c.new_id
          FROM cand_x c JOIN sh_new x ON x.doc_id = c.new_id
                        JOIN sh_ref y ON y.doc_id = c.ref_id
          WHERE len(list_intersect(x.grams, y.grams))::DOUBLE /
                (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)))
                >= {threshold}
        )
        SELECT 'all' AS mode, doc_id, CAST(NULL AS VARCHAR) AS domain,
               CAST(NULL AS BIGINT) AS n_docs,
               CAST(NULL AS DOUBLE) AS mean_score,
               CAST(NULL AS DOUBLE) AS excess,
               CAST(NULL AS DOUBLE) AS weight
        FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM verified)
        UNION ALL
        SELECT 'incr', doc_id, NULL, NULL, NULL, NULL, NULL
        FROM docs_new
        WHERE doc_id NOT IN (SELECT new_id FROM matched)
        UNION ALL
        SELECT 'mix', doc_id, NULL, NULL, NULL, NULL, NULL
        FROM ({mix_sql})
        UNION ALL
        SELECT 'dw', CAST(NULL AS BIGINT), domain, n_docs,
               mean_score, excess, weight
        FROM (VALUES {dw_vals}) dw(domain, n_docs, mean_score,
                                   excess, weight)
    """


def _ann_ivf_oracle() -> str:
    """The ``ann_ivf`` oracle — ``ivf`` half: integer (vec_id →
    list_id) assignments and probe lists recomputed at oracle-build
    time by the independent numpy/decimal twin
    (``operators/ivf_oracle.py``), sims and recall computed by DuckDB
    on top (the ``ann_lsh`` pattern); ``pq`` third (r5): the full
    PQ+rerank pipeline recomputed by ``pq_oracle_rows`` and pinned as
    VALUES (DuckDB does the round-6); ``pqr`` third (r6): the residual
    IVF-PQ pipeline recomputed by ``pq_residual_oracle_rows`` (decimal
    -fold centroids, residual codebooks, per-(query, list) ADC,
    exact rerank)."""
    from deep_db_learning_spark.operators.ivf_oracle import (
        ivf_oracle_sql,
        pq_oracle_sql,
        pq_residual_oracle_sql,
    )

    ivf = ivf_oracle_sql(n_lists=8, n_iters=5, n_queries=5, n_probes=3, k=5)
    pq = pq_oracle_sql(
        m=16, k_codes=16, sample=500, seed=42, n_queries=5, k=5, rerank_factor=4
    )
    pqr = pq_residual_oracle_sql(
        m=16, k_codes=16, sample=500, seed=42, n_queries=5, k=5,
        rerank_factor=4, n_lists=8, n_iters_ivf=5, n_probes=3,
    )
    return (
        f"SELECT 'ivf' AS mode, * FROM ({ivf}) "
        f"UNION ALL SELECT 'pq' AS mode, * FROM ({pq}) "
        f"UNION ALL SELECT 'pqr' AS mode, * FROM ({pqr})"
    )


def _text_dedup_clusters_oracle() -> str:
    """Mode-tagged text_dedup_clusters oracle (r6). ``cluster``: the
    original recursive-CTE transitive closure over exact 9-gram
    Jaccard pairs. ``span``: the duplicated-substring intervals — the
    SAME two portable Horner window folds the engine's Arrow kernel
    computes, corpus-wide duplicate filter, per-doc island merge."""
    from deep_db_learning_spark.operators.dedup import (
        SHINGLE_B,
        SHINGLE_B2,
        SHINGLE_P,
    )

    K = 50

    def fold(base: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split(substr(d.text, CAST(w.pos AS INT), {K}), ''), "
            "ch -> CAST(CASE WHEN ch = '' THEN 0 ELSE ord(ch) END AS BIGINT))), "
            f"(acc, ch) -> (acc * {base} + ch) % {SHINGLE_P})"
        )

    return f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct(CASE WHEN length(text) < 9 THEN [text]
            ELSE list_transform(range(1, length(text) - 7), i -> substr(text, i, 9)) END) AS grams
          FROM documents
        ), p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
                (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
        ), e AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION
          SELECT id_b, id_a FROM p
        ), reach(n, m) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, reach.m FROM reach JOIN e ON e.a = reach.n
        ),
        w AS (
          SELECT doc_id,
                 unnest(range(1, greatest(length(text) - {K - 1}, 0) + 1)) AS pos
          FROM documents
        ), hh AS (
          SELECT w.doc_id, w.pos, {fold(SHINGLE_B)} AS gh1, {fold(SHINGLE_B2)} AS gh2
          FROM w JOIN documents d ON d.doc_id = w.doc_id
        ), dup AS (
          SELECT gh1, gh2 FROM hh GROUP BY gh1, gh2 HAVING count(*) >= 2
        ), dw AS (
          SELECT hh.doc_id, hh.pos FROM hh JOIN dup USING (gh1, gh2)
        ), isl AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev IS NULL OR pos - prev > {K} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM (SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM dw)
        )
        SELECT 'cluster' AS mode, n AS doc_id,
               CAST(min(m) AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b
        FROM reach GROUP BY n
        UNION ALL
        SELECT 'span' AS mode, doc_id,
               CAST(min(pos) AS BIGINT) AS a,
               CAST(max(pos) + {K - 1} AS BIGINT) AS b
        FROM isl GROUP BY doc_id, island
        UNION ALL
        -- r9 lrs mode: the suffix-array twin's rows inlined (the
        -- python SA is the independent recomputation, not SQL)
        {_lrs_oracle_values()}
    """


def _lrs_oracle_values() -> str:
    """lrs mode of ``text_dedup_clusters``: the corpus-wide longest
    repeated substring recomputed INDEPENDENTLY by the python
    suffix-array twin (plain lexicographic suffix sort + direct
    common-prefix comparison — no prefix doubling, no Spark) over
    DuckDB-read parquet, inlined as VALUES. The engine runs the
    distributed prefix-doubling construction; matching rows prove the
    whole array agrees where it matters."""
    import duckdb

    from deep_db_learning_spark.operators.suffix_array import (
        longest_repeated_substring_py,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{sf}/documents.parquet') "
            f"WHERE text IS NOT NULL AND length(text) > 0"
        ).fetchall()
    )
    con.close()
    rows = longest_repeated_substring_py(texts)
    if not rows:
        return (
            "SELECT 'lrs' AS mode, CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b "
            "WHERE FALSE"
        )
    vals = ", ".join(f"({d}, {p}, {l})" for d, p, l in rows)
    return (
        f"SELECT 'lrs' AS mode, doc_id, CAST(pos AS BIGINT) AS a, "
        f"CAST(lcp AS BIGINT) AS b "
        f"FROM (VALUES {vals}) AS lrs(doc_id, pos, lcp)"
    )


def _embedding_topk_oracle() -> str:
    """Mode-tagged embedding_topk oracle (r6). ``exact``: the original
    brute-force cosine SQL. ``sq8``: the scalar-quantization twin —
    the per-dimension scales are recomputed HERE from the raw parquet
    (``max|x_j|/127``, the same float expressions as ``sq8_train``)
    and inlined as a repr-literal list; DuckDB then replays
    encode (round-half-away ≡ Spark's HALF_UP at scale 0, where every
    reachable tie is a binary-exact half) → clip ±127 → dequantize →
    ``list_cosine_similarity`` (the embedding_topk precedent)."""
    import os

    import duckdb

    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    # r13 trained mode: re-fit the word vectors through the DuckDB
    # twin (bit-equal to the engine fit — tests/test_word_embedding.py
    # pins the parity) and inline them as DECIMAL(30,9) literals; the
    # SQL below re-pools per document with an order-independent
    # DECIMAL SUM and replays the cosine ranking
    from deep_db_learning_spark.operators.word_embedding import (
        fit_word_embedding_twin,
    )

    wem = fit_word_embedding_twin(
        con, f"read_parquet('{sf}/documents.parquet')", "text", window=2
    )
    wv_lit = ", ".join(
        "('{}', {}, {})".format(t.replace("'", "''"), k, wem.U[t][k])
        for t in wem.vocab
        for k in range(wem.dim)
    )
    d = con.execute(
        f"SELECT len(embedding) FROM read_parquet('{sf}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0]
    maxes = con.execute(
        f"""
        SELECT i, max(abs(embedding[i]::DOUBLE))
        FROM read_parquet('{sf}/embeddings.parquet')
        CROSS JOIN range(1, {d} + 1) t(i)
        GROUP BY i ORDER BY i
        """
    ).fetchall()
    scales = [(mx / 127.0) if mx > 0 else 1.0 for _, mx in maxes]
    sc_lit = "[" + ", ".join(repr(float(s)) for s in scales) + "]"
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, e.vec_id,
                 list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS sim
          FROM q CROSS JOIN embeddings e
        ),
        ranked AS (
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM sims
        ),
        deq AS (
          SELECT vec_id,
                 list_transform(range(1, {d} + 1), i ->
                   GREATEST(-127, LEAST(127,
                     round(embedding[i]::DOUBLE / ({sc_lit})[i], 0)))
                   * ({sc_lit})[i]) AS v
          FROM embeddings
        ),
        sims8 AS (
          SELECT q.query_id, e.vec_id,
                 list_cosine_similarity(q.qv, e.v) AS sim
          FROM q CROSS JOIN deq e
        ),
        ranked8 AS (
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM sims8
        )
        SELECT 'exact' AS mode, query_id, vec_id, CAST(rank AS INT) AS rank,
               round(sim, 6) AS sim
        FROM ranked WHERE rank <= 5
        UNION ALL
        SELECT 'sq8' AS mode, query_id, vec_id, CAST(rank AS INT) AS rank,
               round(sim, 6) AS sim
        FROM ranked8 WHERE rank <= 5
        UNION ALL
        SELECT 'trained' AS mode, query_id, vec_id, CAST(rank AS INT),
               round(sim, 6)
        FROM (
          WITH wv(tok, k, w) AS (
            SELECT tok, k, CAST(w AS DECIMAL(30,9))
            FROM (VALUES {wv_lit}) AS t(tok, k, w)
          ), dtoks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
            FROM documents
          ), comp AS (
            SELECT doc_id, k, CAST(sum(w) AS DOUBLE) AS s
            FROM dtoks JOIN wv USING (tok)
            GROUP BY doc_id, k
          ), demb AS (
            SELECT doc_id, list(s ORDER BY k) AS v FROM comp GROUP BY doc_id
          ), dall AS (
            -- zero vectors excluded symmetrically with the engine
            -- (Spark NULL vs DuckDB -1.0 cosine divergence otherwise);
            -- all-OOV docs never reach demb (inner token join)
            SELECT doc_id, v FROM demb
            WHERE len(list_filter(v, x -> x <> 0)) > 0
          ), dq AS (
            SELECT doc_id AS query_id, v AS qv FROM dall WHERE doc_id < 5
          ), simsT AS (
            SELECT q.query_id, e.doc_id AS vec_id,
                   list_cosine_similarity(q.qv, e.v) AS sim
            FROM dq q CROSS JOIN dall e
          )
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM simsT
        ) WHERE rank <= 5
    """


def _train_relational_oracle() -> str:
    """The ``train_relational`` VALUES oracle — recomputed from the raw
    parquet at oracle-build time by the independent numpy/decimal twin
    (``plans/train_oracle.py``), so it survives driver data
    regeneration and copies nothing from the Spark run."""
    from deep_db_learning_spark.plans.train_oracle import train_loss_oracle_sql

    return train_loss_oracle_sql(epochs=8, seed=42)


def oracle_sql() -> dict[str, str]:
    tables = [
        "customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier",
    ]
    row_counts = " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in tables
    )
    cust_cols = ["c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey"]
    profile = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, (SELECT count(*) FROM customer) AS n_rows, "
        f"count({c}) AS n_nonnull, "
        f"(SELECT count(*) FROM (SELECT DISTINCT {c} FROM customer)) AS n_distinct "
        f"FROM customer"
        for c in cust_cols
    )
    gs_specs = {
        "customer__c_nationkey__nation": ("customer", "nation", "c_nationkey", "n_nationkey"),
        "events__user_id__customer": ("events", "customer", "user_id", "c_custkey"),
        "lineitem__l_orderkey__orders": ("lineitem", "orders", "l_orderkey", "o_orderkey"),
        "lineitem__l_partkey__part": ("lineitem", "part", "l_partkey", "p_partkey"),
        "lineitem__l_suppkey__supplier": ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
        "nation__n_regionkey__region": ("nation", "region", "n_regionkey", "r_regionkey"),
        "orders__o_custkey__customer": ("orders", "customer", "o_custkey", "c_custkey"),
        "supplier__s_nationkey__nation": ("supplier", "nation", "s_nationkey", "n_nationkey"),
    }
    graph_stats = " UNION ALL ".join(
        f"SELECT '{et}' AS edge_type, '{st}' AS src_table, '{dt}' AS dst_table, "
        f"(SELECT count(*) FROM {st}) AS n_src_rows, "
        f"(SELECT count(*) FROM {dt}) AS n_dst_rows, "
        f"(SELECT count(*) FROM {st} JOIN {dt} ON {st}.{fk} = {dt}.{rk}) AS n_edges, "
        f"(SELECT count(*) FROM {st} JOIN {dt} ON {st}.{fk} = {dt}.{rk})::DOUBLE "
        f"/ (SELECT count(*) FROM {st}) AS edges_per_src"
        for et, (st, dt, fk, rk) in sorted(gs_specs.items())
    )
    seg_onehot = ",\n                   ".join(
        f"CASE WHEN c_mktsegment = '{v}' THEN 1 ELSE 0 END AS c_mktsegment_{v}"
        for v in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    )
    from deep_db_learning_spark.functions.feature_eng import (
        bin_by_quantiles_oracle_sql,
        robust_scale_oracle_sql,
        target_encode_oracle_sql,
        winsorize_oracle_sql,
    )

    _te_oracle_sql = target_encode_oracle_sql(
        "customer", "c_mktsegment", "c_acctbal", "c_custkey"
    )
    _bin_oracle_sql = bin_by_quantiles_oracle_sql(
        "customer", "c_acctbal", "c_custkey", n_bins=10
    )
    _wins_oracle_sql = winsorize_oracle_sql(
        "customer", "c_acctbal", "c_custkey"
    )
    _rs_oracle_sql = robust_scale_oracle_sql(
        "customer", "c_acctbal", "c_custkey"
    )
    from deep_db_learning_spark.profiling.profiler import (
        key_skew_report_oracle_sql,
        pairwise_correlations_oracle_sql,
    )

    _pairwise_corr_oracle_sql = pairwise_correlations_oracle_sql(
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    _key_skew_oracle_sql = key_skew_report_oracle_sql(
        "lineitem", "l_suppkey", k=10
    )
    from deep_db_learning_spark.operators.basket import (
        pair_association_rules_oracle_sql,
    )

    _basket_rules_oracle_sql = pair_association_rules_oracle_sql(
        "lineitem", "l_orderkey", "l_partkey", min_pair_groups=2
    )
    from deep_db_learning_spark.operators.temporal import (
        attribution_oracle_sql,
    )

    sqls = {
        "catalog_columns": f"""
            WITH rc AS ({row_counts})
            SELECT c.table_name, c.column_name, rc.n_rows
            FROM information_schema.columns c
            JOIN rc ON c.table_name = rc.table_name
        """,
        "profile_customer": profile,
        "schema_inference": _schema_inference_oracle(),
        "encode_mktsegment": f"""
            SELECT c.c_custkey, coalesce(m.code, 0) AS seg_code, f.label,
                   {seg_onehot}
            FROM customer c
            LEFT JOIN (
              SELECT v AS value, row_number() OVER (ORDER BY v) AS code
              FROM (SELECT DISTINCT c_mktsegment AS v FROM customer WHERE c_mktsegment IS NOT NULL)
            ) m ON c.c_mktsegment = m.value
            JOIN (
              SELECT value, CAST(row_number() OVER (ORDER BY value) - 1 AS INT) AS label
              FROM (SELECT DISTINCT c_mktsegment AS value FROM customer)
            ) f ON c.c_mktsegment = f.value
        """,
        "datetime_decompose": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS od_year,
                   CAST(dayofyear(o_orderdate) AS INT) AS od_dayofyear,
                   CAST(hour(o_orderdate)*3600 + minute(o_orderdate)*60
                        + CAST(floor(second(o_orderdate)) AS INT) AS INT) AS od_secs,
                   CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch,
                   CAST(month(o_orderdate) AS INT) AS od_month,
                   CAST(day(o_orderdate) AS INT) AS od_day,
                   CAST(date_diff('day', DATE '0001-01-01', o_orderdate::DATE) + 1 AS INT) AS od_ordinal
            FROM orders
        """,
        "normalize_cname": """
            WITH nd AS (
              SELECT count(DISTINCT c_name) + max(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nd_identity,
                     count(DISTINCT lower(c_name)) + max(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nd_ci,
                     count(DISTINCT lower(trim(c_name))) + max(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nd_strip_ci,
                     count(DISTINCT rtrim(c_name)) + max(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nd_rstrip
              FROM customer
            )
            SELECT c_custkey,
                   lower(c_name) AS name_ci,
                   lower(trim(c_name)) AS name_strip_ci,
                   rtrim(c_name) AS name_rstrip,
                   nd_identity, nd_ci, nd_strip_ci, nd_rstrip
            FROM customer, nd
        """,
        "edges_orders_customer": """
            SELECT o_orderkey AS src, c_custkey AS dst
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "edge_augment": """
            SELECT c_custkey AS src, n_nationkey AS dst, 'fwd' AS direction
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT n_nationkey AS src, c_custkey AS dst, 'rev' AS direction
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT n_nationkey AS src, n_nationkey AS dst, 'self' AS direction
            FROM nation
        """,
        "neighbor_sample": f"""
            SELECT src, dst FROM (
              SELECT o_orderkey AS src, c_custkey AS dst,
                     row_number() OVER (PARTITION BY c_custkey
                       ORDER BY ({knuth_hash_sql('o_orderkey', 42)}), o_orderkey) AS rn
              FROM orders JOIN customer ON o_custkey = c_custkey
            ) WHERE rn <= 5
        """,
        "node_split": f"""
            SELECT 'random' AS mode, c_custkey,
                   {split_label_sql('c_custkey')} AS split
            FROM customer
            UNION ALL
            SELECT 'stratified', c_custkey, split
            FROM ({_stratified_split_oracle()})
            UNION ALL
            SELECT 'kfold', c_custkey,
                   'fold_' || CAST(({knuth_hash_sql('c_custkey', 42)}) % 5
                                   AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'wsample', c_custkey, 'sampled'
            FROM ({_wsample_oracle()})
            UNION ALL
            -- r11 budget mode: the window-cumsum DEFINITION of the
            -- greedy budgeted prefix (the engine computes the same
            -- set with the windowless threshold-cut plan); decimal
            -- cumulative weights, NULL keys outside the contract
            SELECT 'budget', c_custkey, 'selected'
            FROM (
              SELECT c_custkey,
                     sum(CAST(c_custkey % 17 + 1 AS DECIMAL(30,9)))
                       OVER (ORDER BY c_acctbal DESC, c_custkey
                             ROWS UNBOUNDED PRECEDING) AS cw
              FROM customer
              WHERE c_acctbal IS NOT NULL
            ) WHERE cw <= {NODE_BUDGET_SPEC["budget"]}
            UNION ALL
            -- r12 budgeta mode: ascending + tie-heavy key (seven
            -- distinct values) — the boundary is decided inside one
            -- tied key mass by the (key ASC, id ASC) exact walk
            SELECT 'budgeta', c_custkey, 'selected'
            FROM (
              SELECT c_custkey,
                     sum(CAST(c_custkey % 5 + 1 AS DECIMAL(30,9)))
                       OVER (ORDER BY c_custkey % 7 ASC, c_custkey
                             ROWS UNBOUNDED PRECEDING) AS cw
              FROM customer
            ) WHERE cw <= {NODE_BUDGETA_SPEC["budget"]}
        """,
        "eval_metrics": f"""
            WITH counts AS (
              SELECT c_nationkey, c_mktsegment, count(*) AS cnt
              FROM customer GROUP BY 1, 2
            ), modal AS (
              SELECT c_nationkey, c_mktsegment AS prediction FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment) AS rn
                FROM counts) WHERE rn = 1
            ), cm AS (
              -- denominators are NON-NULL counts (avg semantics), like
              -- the Spark side
              SELECT count(CASE WHEN prediction = c_mktsegment THEN 1 END)
                       / count(prediction = c_mktsegment) AS accuracy,
                     count(prediction = c_mktsegment) AS n_cls
              FROM customer JOIN modal USING (c_nationkey)
            ), m AS (
              SELECT {exact_sum_sql('o_totalprice')} / count(o_totalprice) AS mv FROM orders
            ), rm AS (
              SELECT {exact_sum_sql('(mv - o_totalprice) * (mv - o_totalprice)')}
                       / count(mv - o_totalprice) AS mse,
                     {exact_sum_sql('abs(mv - o_totalprice)')} / count(mv - o_totalprice) AS mae,
                     {exact_sum_sql('o_totalprice')} / count(o_totalprice) AS mean_y,
                     count(mv - o_totalprice) AS n_reg
              FROM orders, m
            ), ar AS (
              -- r10: exact ROC-AUC — identical integer midrank
              -- aggregates (binary_auc_sql) + the identical final
              -- division in doubles (every operand exact below 2^53)
              SELECT CAST(s2 - npos * (npos + 1) AS DOUBLE)
                       / (2.0 * npos * (n - npos)) AS auc
              FROM ({_eval_auc_oracle()})
            )
            SELECT accuracy, n_cls, mse, mae,
                   CASE WHEN mean_y != 0 THEN sqrt(mse) / mean_y END AS nrmse,
                   n_reg, auc,
                   -- r11: ECE recomputed at oracle-build time through
                   -- the shared calibration table + ascending-bin fold
                   {_eval_ece_oracle()} AS ece
            FROM cm, rm, ar
        """,
        "constraints": _constraints_oracle(),
        "db_copy_row_pick": """
            WITH pos AS (
              SELECT n_nationkey, n_name, n_regionkey,
                     row_number() OVER (ORDER BY n_nationkey) - 1 AS pos
              FROM nation
            )
            SELECT pos, n_nationkey, n_name, n_regionkey FROM pos
            WHERE pos IN (0, 5, 10, 15, 20)
        """,
        "events_time_convert": """
            SELECT event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                   CAST(datepart('hour', ts) * 3600
                      + datepart('minute', ts) * 60
                      + datepart('second', ts) AS INT) AS ssm,
                   epoch(ts - date_trunc('day', ts)) AS since_midnight_secs,
                   least(greatest(
                     CASE WHEN event_id % 5 = 0 THEN ts + INTERVAL 300 YEAR ELSE ts END,
                     TIMESTAMP '1677-09-22 00:12:43'),
                     TIMESTAMP '2262-04-11 23:47:16') AS ts_clamped
            FROM events
        """,
        "constant_columns": """
            WITH cand(column_name, n) AS (
              SELECT 'p_partkey', (SELECT count(DISTINCT p_partkey) FROM part) UNION ALL
              SELECT 'p_name', (SELECT count(DISTINCT p_name) FROM part) UNION ALL
              SELECT 'p_brand', (SELECT count(DISTINCT p_brand) FROM part) UNION ALL
              SELECT 'p_type', (SELECT count(DISTINCT p_type) FROM part) UNION ALL
              SELECT 'p_size', (SELECT count(DISTINCT p_size) FROM part) UNION ALL
              SELECT 'p_retailprice', (SELECT count(DISTINCT p_retailprice) FROM part) UNION ALL
              SELECT 'const_marker', 1
            )
            SELECT column_name FROM cand WHERE n > 1
        """,
        "cardinality_reconcile": """
            -- raw distinct count already equals the declared cardinality,
            -- so the FIRST registry entry (identity) wins
            SELECT 'identity' AS normalizer, value,
                   CAST(row_number() OVER (ORDER BY value) AS INT) AS code
            FROM (SELECT DISTINCT c_mktsegment AS value FROM customer)
        """,
        "impute_acctbal": f"""
            WITH b AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
              FROM customer
            ), m AS (
              SELECT {exact_sum_sql('bal')} / count(bal) AS mv FROM b
            )
            SELECT c_custkey, coalesce(bal, mv) AS bal_imputed FROM b, m
        """,
        "message_mean_conv": f"""
            SELECT c_custkey,
                   c_acctbal + coalesce(agg.mv, 0.0) AS conv,
                   agg.mv AS mean_price,
                   agg.s AS sum_price,
                   agg.mn AS min_price,
                   agg.mx AS max_price,
                   agg.cnt AS n_orders
            FROM customer LEFT JOIN (
              SELECT o_custkey, {exact_avg_sql('o_totalprice')} AS mv,
                     {exact_sum_sql('o_totalprice')} AS s,
                     min(o_totalprice) AS mn,
                     max(o_totalprice) AS mx,
                     count(*) AS cnt
              FROM orders GROUP BY o_custkey
            ) agg ON o_custkey = c_custkey
        """,
        "bfs_per_root": """
            -- depth-2 BFS from each customer root: the root row itself,
            -- its nation (forward FK), and its orders/events (reverse
            -- FKs); tables a root never reaches produce no row
            WITH r AS (SELECT c_custkey AS root_id FROM customer WHERE c_custkey < 10)
            SELECT 'per_root' AS mode, root_id, 'customer' AS table_name,
                   CAST(1 AS BIGINT) AS n_visited FROM r
            UNION ALL
            SELECT 'per_root', root_id, 'nation', count(DISTINCT n_nationkey)
            FROM r JOIN customer ON c_custkey = root_id
                   JOIN nation ON n_nationkey = c_nationkey
            GROUP BY root_id
            UNION ALL
            SELECT 'per_root', root_id, 'orders', count(DISTINCT o_orderkey)
            FROM r JOIN orders ON o_custkey = root_id
            GROUP BY root_id
            UNION ALL
            SELECT 'per_root', root_id, 'events', count(DISTINCT event_id)
            FROM r JOIN events ON user_id = root_id
            GROUP BY root_id
            UNION ALL
            -- r14 global mode: one whole-frontier BFS over the same
            -- roots — distinct visited rows per table
            SELECT 'global', CAST(NULL AS BIGINT), t, n FROM (
              SELECT 'customer' AS t, count(*) AS n
              FROM customer WHERE c_custkey < 10
              UNION ALL
              SELECT 'nation', count(DISTINCT n_nationkey)
              FROM nation WHERE n_nationkey IN
                (SELECT c_nationkey FROM customer WHERE c_custkey < 10)
              UNION ALL
              SELECT 'orders', count(*) FROM orders WHERE o_custkey < 10
              UNION ALL
              SELECT 'events', count(*) FROM events WHERE user_id < 10)
        """,
        "message_2hop": f"""
            WITH li AS (
              SELECT o_orderkey AS node_id, {exact_sum_sql('l_quantity')} AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderkey
            )
            SELECT c_custkey,
                   {exact_sum_sql('qty')} AS sum_qty,
                   {exact_avg_sql('qty')} AS mean_qty,
                   count(*) AS n_orders_with_items
            FROM li JOIN orders ON li.node_id = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey
        """,
        "attention_aggregate": f"""
            WITH e AS (
              SELECT c_custkey, o_totalprice / 100000.0 AS score,
                     o_totalprice AS price,
                     max(o_totalprice / 100000.0) OVER (PARTITION BY c_custkey) AS mx
              FROM orders JOIN customer ON o_custkey = c_custkey
            )
            SELECT c_custkey,
                   round({exact_sum_sql('price * exp(score - mx)')}
                         / {exact_sum_sql('exp(score - mx)')}, 3) AS attn_price
            FROM e GROUP BY c_custkey
        """,
        "tpch_q1": f"""
            SELECT 'q1' AS mode, l_returnflag, l_linestatus,
                   {exact_sum_sql('l_quantity')} AS sum_qty,
                   {exact_sum_sql('l_extendedprice')} AS sum_base_price,
                   {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
                   {exact_avg_sql('l_quantity')} AS avg_qty,
                   {exact_avg_sql('l_discount')} AS avg_disc,
                   count(*) AS count_order,
                   CAST(NULL AS BIGINT) AS count2
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            UNION ALL
            -- r12: Q12 conditional-count CASE pair (count_order/count2
            -- carry high/low line counts)
            SELECT 'q12', l_returnflag, CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   high_line_count, low_line_count
            FROM ({_tpch_suite_oracles['tpch_q12']})
            UNION ALL
            -- r12: Q13 order-count distribution (count_order carries
            -- custdist, count2 the c_count bucket)
            SELECT 'q13', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   custdist, c_count
            FROM ({_tpch_suite_oracles['tpch_q13']})
            UNION ALL
            -- r13: Q16 supplier-count rollup (brand/type in the
            -- string keys, count_order supplier_cnt, count2 p_size)
            SELECT 'q16', p_brand, p_type,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(supplier_cnt AS BIGINT), CAST(p_size AS BIGINT)
            FROM ({_tpch_suite_oracles['tpch_q16']})
        """,
        "tpch_q3": f"""
            SELECT 'q3' AS mode, o_orderkey, o_orderdate,
                   CAST(NULL AS VARCHAR) AS key_str,
                   CAST(NULL AS BIGINT) AS key_int,
                   CAST(NULL AS BIGINT) AS cnt,
                   revenue AS value
            FROM (
              SELECT o_orderkey, o_orderdate,
                     {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
                            JOIN lineitem ON o_orderkey = l_orderkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY o_orderkey, o_orderdate
              ORDER BY revenue DESC, o_orderkey ASC
              LIMIT 10)
            UNION ALL
            -- r12: Q4 EXISTS order-priority checking (key_str carries
            -- o_orderpriority, cnt the order count)
            SELECT 'q4', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   o_orderpriority, CAST(NULL AS BIGINT),
                   order_count, CAST(NULL AS DOUBLE)
            FROM ({_tpch_suite_oracles['tpch_q4']})
            UNION ALL
            -- r12: Q22 anti-join under a global-average scalar filter
            -- (key_int carries c_nationkey, cnt numcust, value
            -- totacctbal)
            SELECT 'q22', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS VARCHAR), CAST(c_nationkey AS BIGINT),
                   numcust, totacctbal
            FROM ({_tpch_suite_oracles['tpch_q22']})
            UNION ALL
            -- r13: Q11 HAVING-over-scalar-subquery inventory value
            -- (key_int ps_partkey)
            SELECT 'q11', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS VARCHAR), CAST(ps_partkey AS BIGINT),
                   CAST(NULL AS BIGINT), value
            FROM ({_tpch_suite_oracles['tpch_q11']})
            UNION ALL
            -- r13: Q15 max-of-aggregate top supplier (key_int
            -- s_suppkey, key_str s_name)
            SELECT 'q15', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   s_name, CAST(s_suppkey AS BIGINT),
                   CAST(NULL AS BIGINT), total_revenue
            FROM ({_tpch_suite_oracles['tpch_q15']})
        """,
        "tpch_q5": f"""
            SELECT 'q5' AS mode, n_name AS name1,
                   CAST(NULL AS VARCHAR) AS name2,
                   CAST(NULL AS INT) AS yr, revenue AS value
            FROM (
              SELECT n_name,
                     {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
              FROM customer
                JOIN orders ON c_custkey = o_custkey
                JOIN lineitem ON o_orderkey = l_orderkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              WHERE c_nationkey = s_nationkey
              GROUP BY n_name)
            UNION ALL
            -- r12: Q7 two-role dimension + disjunctive pair filter
            SELECT 'q7', supp_nation, cust_nation, l_year, revenue
            FROM ({_tpch_suite_oracles['tpch_q7']})
            UNION ALL
            -- r12: Q8 market-share ratio of two conditional folds
            SELECT 'q8', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   o_year, mkt_share
            FROM ({_tpch_suite_oracles['tpch_q8']})
            UNION ALL
            -- r12: Q9 product-type profit rollup
            SELECT 'q9', nation, CAST(NULL AS VARCHAR), o_year,
                   sum_profit
            FROM ({_tpch_suite_oracles['tpch_q9']})
        """,
        "tpch_q6": f"""
            WITH q6 AS (
              SELECT {exact_sum_sql('l_extendedprice * l_discount')} AS revenue,
                     count(*) AS n_rows
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
                AND l_discount >= 0.05 AND l_discount <= 0.07
                AND l_quantity < 24
            )
            SELECT 'q6_revenue' AS query, revenue AS value FROM q6
            UNION ALL
            SELECT 'q6_rows', CAST(n_rows AS DOUBLE) FROM q6
            UNION ALL
            SELECT 'q14_promo', promo_revenue
            FROM ({_tpch_suite_oracles['tpch_q14']})
            UNION ALL
            SELECT 'q17_avg_yearly', avg_yearly
            FROM ({_tpch_suite_oracles['tpch_q17']})
            UNION ALL
            -- r13: Q19 disjunctive-band revenue
            SELECT 'q19_revenue', revenue
            FROM ({_tpch_suite_oracles['tpch_q19']})
        """,
        "tpch_q18": f"""
            WITH big AS (
              SELECT l_orderkey, {exact_sum_sql('l_quantity')} AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING {exact_sum_sql('l_quantity')} > 150
            )
            SELECT 'q18' AS mode, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty,
                   CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS DOUBLE) AS c_acctbal,
                   CAST(NULL AS VARCHAR) AS n_name,
                   CAST(NULL AS DOUBLE) AS revenue
            FROM (
              SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
                     sum_qty
              FROM orders
                JOIN big ON o_orderkey = l_orderkey
                JOIN customer ON o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC
              LIMIT 100)
            UNION ALL
            SELECT 'q10', c_custkey, CAST(NULL AS BIGINT),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), c_name, c_acctbal, n_name,
                   revenue
            FROM ({_tpch_suite_oracles['tpch_q10']})
            UNION ALL
            -- r8: Q2 correlated-min supplier (c_custkey carries
            -- p_partkey, revenue the min derived supply cost)
            SELECT 'q2', p_partkey, CAST(NULL AS BIGINT),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), s_name, s_acctbal, n_name,
                   ps_supplycost
            FROM ({_tpch_suite_oracles['tpch_q2']})
            UNION ALL
            -- r8: Q21 EXISTS + NOT EXISTS wait chain (sum_qty carries
            -- numwait)
            SELECT 'q21', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
                   CAST(numwait AS DOUBLE), s_name,
                   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM ({_tpch_suite_oracles['tpch_q21']})
            UNION ALL
            -- r13: Q20 dominant-supplier promotion (c_custkey carries
            -- s_suppkey, c_name s_name)
            SELECT 'q20', CAST(s_suppkey AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), s_name,
                   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM ({_tpch_suite_oracles['tpch_q20']})
            UNION ALL
            -- r14: per-group top-k window (c_custkey carries
            -- o_custkey, sum_qty the 1-based in-group rank)
            SELECT 'topk', o_custkey, o_orderkey,
                   CAST(NULL AS TIMESTAMP), o_totalprice,
                   CAST(rn AS DOUBLE), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                     ) AS rn
              FROM orders)
            WHERE rn <= 3
        """,
        "lineitem_numeric_profile": "SELECT 'stats' AS mode, column_name, "
        "CAST(NULL AS VARCHAR) AS col_b, n, mean, min, max, std, "
        "CAST(NULL AS DOUBLE) AS corr, CAST(NULL AS INT) AS rank, "
        "CAST(NULL AS DOUBLE) AS share, "
        "CAST(NULL AS DOUBLE) AS skew_factor FROM ("
        + " UNION ALL ".join(
            f"""
            SELECT '{c}' AS column_name, count({c}) AS n,
                   {exact_avg_sql(c)} AS mean,
                   CAST(min({c}) AS DOUBLE) AS min,
                   CAST(max({c}) AS DOUBLE) AS max,
                   CASE WHEN count({c}) > 1 THEN sqrt(
                     ({_sumsq_sql(c)} - {exact_sum_sql(c)} * {exact_sum_sql(c)} / count({c}))
                     / (count({c}) - 1)) END AS std
            FROM lineitem
            """
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        )
        + f""")
        UNION ALL
        -- r8: pairwise-complete Pearson correlations, one scan
        SELECT 'corr', col_a, col_b, n, CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), corr, CAST(NULL AS INT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM ({_pairwise_corr_oracle_sql})
        UNION ALL
        -- r9: join-key skew report (top-k heavy keys on l_suppkey)
        SELECT 'skew', 'l_suppkey', key, cnt, CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(rank AS INT), share, skew_factor
        FROM ({_key_skew_oracle_sql})
        """,
        "graph_stats": f"""
            SELECT 'fk' AS mode, edge_type, src_table, dst_table,
                   n_src_rows, n_dst_rows, n_edges, edges_per_src,
                   CAST(NULL AS DOUBLE) AS support,
                   CAST(NULL AS DOUBLE) AS lift
            FROM ({graph_stats})
            UNION ALL
            -- r8: pairwise association rules over order baskets
            SELECT 'rule', 'copurchase',
                   CAST(antecedent AS VARCHAR), CAST(consequent AS VARCHAR),
                   n_ante, n_cons, n_pair, confidence, support, lift
            FROM ({_basket_rules_oracle_sql})
        """,
        "convert_orders": """
            WITH st AS (
              SELECT v AS value, row_number() OVER (ORDER BY v) AS code
              FROM (SELECT DISTINCT o_orderstatus AS v FROM orders
                    WHERE o_orderstatus IS NOT NULL)
            ),
            pr AS (
              SELECT v AS value, row_number() OVER (ORDER BY v) AS code
              FROM (SELECT DISTINCT o_orderpriority AS v FROM orders
                    WHERE o_orderpriority IS NOT NULL)
            )
            SELECT o_orderkey,
                   coalesce(o_totalprice, 0.0) AS o_totalprice,
                   CAST(year(o_orderdate) AS INT) AS o_orderdate_year,
                   CAST(dayofyear(o_orderdate) AS INT) AS o_orderdate_dayofyear,
                   CAST(hour(o_orderdate)*3600 + minute(o_orderdate)*60
                        + CAST(floor(second(o_orderdate)) AS INT) AS INT)
                     AS o_orderdate_seconds_since_midnight,
                   coalesce(st.code, 0) AS o_orderstatus_code,
                   coalesce(pr.code, 0) AS o_orderpriority_code
            FROM orders
            LEFT JOIN st ON o_orderstatus = st.value
            LEFT JOIN pr ON o_orderpriority = pr.value
        """,
        "multilabel_event_types": """
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS types_click,
                   max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS types_error,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS types_purchase,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS types_signup,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS types_view
            FROM events GROUP BY user_id
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
                   count(*) AS dup_cnt
            FROM documents GROUP BY md5(text)
        """,
        "ngram_jaccard": f"""
            WITH RECURSIVE sh AS ({_SHINGLE_CTE}),
            ltok AS (
              SELECT min(p_partkey) AS id, p_name AS txt,
                     list_distinct(list_filter(
                       string_split(lower(trim(p_name)), ' '),
                       t -> t <> '')) AS tk
              FROM part GROUP BY p_name
            ),
            lkeys AS (
              SELECT DISTINCT id,
                     array_to_string(list_sort(tk)[1:1], ' ') AS bk
              FROM ltok WHERE len(tk) > 0
            ),
            lpairs AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM lkeys a JOIN lkeys b USING (bk)
              WHERE a.id < b.id
            ),
            lsc AS (
              SELECT id_a, id_b,
                     levenshtein(ra.txt, rb.txt) AS lev,
                     CAST('1' AS DOUBLE)
                       - CAST(levenshtein(ra.txt, rb.txt) AS DOUBLE)
                         / greatest(length(ra.txt), length(rb.txt)) AS lev_sim,
                     CAST(len(list_intersect(ra.tk, rb.tk)) AS DOUBLE)
                       / len(list_distinct(list_concat(ra.tk, rb.tk)))
                       AS token_jaccard
              FROM lpairs
              JOIN ltok ra ON id_a = ra.id
              JOIN ltok rb ON id_b = rb.id
            ),
            lsym AS (
              SELECT id_a AS src, id_b AS dst FROM lsc WHERE lev_sim >= 0.75
              UNION
              SELECT id_b, id_a FROM lsc WHERE lev_sim >= 0.75
            ),
            lnodes AS (
              SELECT DISTINCT id_a AS id FROM lsc
              UNION SELECT id_b FROM lsc
            ),
            lwalk AS (
              SELECT id AS node, id AS reach FROM lnodes
              UNION
              SELECT lwalk.node, lsym.dst
              FROM lwalk JOIN lsym ON lwalk.reach = lsym.src
            )
            SELECT 'ppjoin' AS mode, a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                         (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard,
                   CAST(NULL AS INTEGER) AS lev,
                   CAST(NULL AS DOUBLE) AS lev_sim,
                   CAST(NULL AS DOUBLE) AS token_jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
            UNION ALL
            -- r8: asymmetric containment (|A∩B| / min side)
            SELECT 'containment', a.doc_id, b.doc_id,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                         least(len(a.grams), len(b.grams)), 6),
                   CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE)
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
                  least(len(a.grams), len(b.grams)) >= 0.8
            UNION ALL
            SELECT 'link_scores', id_a, id_b, CAST(NULL AS DOUBLE),
                   lev, lev_sim, token_jaccard
            FROM lsc
            UNION ALL
            SELECT 'link_entities', node, min(reach),
                   CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM lwalk GROUP BY node
            UNION ALL
            -- r8: reciprocal best hits (1:1 assignment)
            SELECT 'link_mutual', b1.src, b1.dst, CAST(NULL AS DOUBLE),
                   CAST(NULL AS INTEGER), b1.s, CAST(NULL AS DOUBLE)
            FROM (
              SELECT src, dst, s FROM (
                SELECT src, dst, s,
                       row_number() OVER (
                         PARTITION BY src ORDER BY s DESC, dst ASC
                       ) AS r
                FROM (
                  SELECT id_a AS src, id_b AS dst, lev_sim AS s FROM lsc
                  UNION ALL
                  SELECT id_b, id_a, lev_sim FROM lsc
                )
              ) WHERE r = 1
            ) b1
            JOIN (
              SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (
                         PARTITION BY src ORDER BY s DESC, dst ASC
                       ) AS r
                FROM (
                  SELECT id_a AS src, id_b AS dst, lev_sim AS s FROM lsc
                  UNION ALL
                  SELECT id_b, id_a, lev_sim FROM lsc
                )
              ) WHERE r = 1
            ) b2 ON b1.src = b2.dst AND b1.dst = b2.src
            WHERE b1.src < b1.dst
        """,
        "text_dedup_clusters": _text_dedup_clusters_oracle(),
        "text_search": _text_search_oracle(),
        "minhash_dedup": _minhash_dedup_oracle(),
        "train_relational": _train_relational_oracle(),
        "decontamination": """
            WITH tok AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(toks) < 13
                  THEN [list_aggregate(toks, 'string_agg', ' ')]
                  ELSE list_transform(range(1, len(toks) - 11),
                         i -> list_aggregate(toks[i:i+12], 'string_agg', ' '))
                END) AS grams
              FROM tok
            ), e AS (
              SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 50
            ), t AS (
              SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 50
            )
            SELECT doc_id, count(*) AS n_shared_grams
            FROM t JOIN e USING (gram)
            GROUP BY doc_id
        """,
        "simhash": f"""
            -- full SimHash fingerprint + pigeonhole banding in DuckDB:
            -- the portable mask-parity hash (dedup._simhash_sql) is
            -- bit-identical across numpy kernel / Spark HOFs / DuckDB,
            -- which is what upgraded this row from rows-only to
            -- oracle-checked
            WITH h AS (
              SELECT doc_id, {dedup._simhash_sql('text', dialect='duckdb')} AS sh
              FROM documents
            ), b AS (
              SELECT doc_id, sh, i AS band, (sh >> (CAST(i AS INT) * 16)) & 65535 AS band_val
              FROM h CROSS JOIN range(0, 4) r(i)
            ), p AS (
              SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                     bit_count(xor(a.sh, c.sh)) AS hamming
              FROM b a JOIN b c
                ON a.band = c.band AND a.band_val = c.band_val
               AND a.doc_id < c.doc_id
            )
            SELECT id_a, id_b, hamming FROM p WHERE hamming <= 10
        """,
        "text_metrics": """
            WITH m AS (
              SELECT doc_id, text,
                     length(text) AS n,
                     length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                     regexp_split_to_array(trim(text), '\\s+') AS rtoks
              FROM documents
            ),
            s AS (
              SELECT doc_id, n, n_punct, toks,
                     len(toks) AS n_toks,
                     len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
                     list_sum(list_transform(rtoks, t -> length(t))) AS sum_len
              FROM m
            )
            SELECT d.doc_id,
                   CAST(CASE WHEN trim(d.text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS bpe_tokens,
                   CASE WHEN position(' the ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'en'
                        WHEN position(' and ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'en'
                        WHEN position(' el ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'es'
                        WHEN position(' la ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'es'
                        WHEN position(' der ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'de'
                        WHEN position(' und ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'de'
                        WHEN position(' le ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'fr'
                        WHEN position(' et ' IN ' ' || lower(d.text) || ' ') > 0 THEN 'fr'
                        ELSE 'und' END AS lang,
                   md5(d.text) AS fp_md5,
                   list_min(list_transform(
                     CASE WHEN length(d.text) < 8 THEN [d.text]
                       ELSE list_transform(range(1, length(d.text) - 6),
                                           i -> substr(d.text, i, 8)) END,
                     g -> substr(md5(g), 1, 16))) AS fp_minhash,
                   round(
                     0.4 * least(s.n / 200.0, 1.0)
                     + 0.2 * (1.0 - least(CASE WHEN s.n > 0 THEN 5.0 * s.n_punct / s.n ELSE 0.0 END, 1.0))
                     + 0.2 * least(4.0 * CASE WHEN s.n_toks > 0 THEN s.n_stop::DOUBLE / s.n_toks ELSE 0.0 END, 1.0)
                     + 0.2 * CASE WHEN s.n_toks > 0 AND (s.sum_len::DOUBLE / s.n_toks) BETWEEN 3.0 AND 8.0
                             THEN 1.0 ELSE 0.5 END, 6) AS quality,
                   CASE WHEN d.text IS NULL OR trim(d.text) = '' THEN 0.0
                        ELSE (s.n_toks - len(list_distinct(s.toks)))::DOUBLE / s.n_toks
                   END AS dup_token_frac,
                   CASE WHEN d.text IS NULL OR trim(d.text) = '' THEN 0.0
                        ELSE tt.topcnt::DOUBLE / s.n_toks
                   END AS top_token_frac,
                   coalesce(mtf.mean_tok_freq, 0.0) AS mean_tok_freq
            FROM documents d
            JOIN s ON d.doc_id = s.doc_id
            -- LEFT: unnest(NULL toks) emits no rows, and a NULL-text
            -- doc must still surface (the CASE maps it to 0.0)
            LEFT JOIN (SELECT doc_id, max(cnt) AS topcnt
                  FROM (SELECT doc_id, t, count(*) AS cnt
                        FROM (SELECT doc_id, unnest(toks) AS t FROM m)
                        GROUP BY doc_id, t)
                  GROUP BY doc_id) tt ON d.doc_id = tt.doc_id
            -- r6: corpus-frequency signal — exact integer sums until
            -- one final double division (bitwise across engines)
            LEFT JOIN (
                  WITH tokf AS (
                    SELECT doc_id, t
                    FROM (SELECT doc_id, unnest(toks) AS t FROM m)
                    WHERE t <> ''
                  ), cnt AS (
                    SELECT t, count(*) AS c FROM tokf GROUP BY t
                  )
                  SELECT tokf.doc_id,
                         sum(cnt.c)::DOUBLE / count(*) AS mean_tok_freq
                  FROM tokf JOIN cnt ON tokf.t = cnt.t
                  GROUP BY tokf.doc_id) mtf ON d.doc_id = mtf.doc_id
        """,
        "embedding_topk": _embedding_topk_oracle(),
        "ann_ivf": _ann_ivf_oracle(),
        "ann_lsh": """
            -- full LSH reproduction: the hyperplanes are seed-derived
            -- arithmetic (same generator as the embedder init), so the
            -- bucket assignment, multiprobe set, candidate join, top-5,
            -- AND the recall column are all engine-independent. Plane
            -- dots use an explicit LEFT fold (list_reduce) to match
            -- Spark's aggregate() summation order bit-for-bit.
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), pd AS (
              SELECT vec_id, v,
                list_transform(range(0, 4), p ->
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(0, len(v)), j ->
                      v[j + 1] * ((((p * 10007 + j + 42) * 2654435761) % 2147483647)
                                  / 2147483647::DOUBLE - 0.5))),
                    (a, x) -> a + x)) AS dots
              FROM emb
            ), b AS (
              SELECT vec_id, v,
                CAST((CASE WHEN dots[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN dots[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN dots[3] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN dots[4] > 0 THEN 8 ELSE 0 END) AS INT) AS bucket
              FROM pd
            ), probes AS (
              SELECT vec_id AS query_id, v AS qv,
                     unnest(list_distinct([bucket,
                       xor(bucket, 1), xor(bucket, 2),
                       xor(bucket, 4), xor(bucket, 8)])) AS bucket
              FROM b WHERE vec_id < 5
            ), cand AS (
              SELECT p.query_id, c.vec_id,
                     list_cosine_similarity(p.qv, c.v) AS sim
              FROM probes p JOIN b c USING (bucket)
            ), ranked AS (
              SELECT query_id, vec_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM cand
            ), approx AS (
              SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
                     round(sim, 6) AS sim
              FROM ranked WHERE rank <= 5
            ), exact AS (
              SELECT q.vec_id AS query_id, e.vec_id,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rank
              FROM emb q CROSS JOIN emb e
              WHERE q.vec_id < 5
            ), rec AS (
              SELECT e.query_id,
                     round(count(a.vec_id) / count(*), 6) AS recall
              FROM (SELECT query_id, vec_id FROM exact WHERE rank <= 5) e
              LEFT JOIN approx a USING (query_id, vec_id)
              GROUP BY e.query_id
            )
            SELECT approx.query_id, vec_id, rank, sim, recall
            FROM approx JOIN rec ON approx.query_id = rec.query_id
        """,
        "embedding_neardup": f"""
            SELECT 'pairs' AS mode, a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS sim,
                   CAST(NULL AS INT) AS list_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200
              AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.32
            UNION ALL
            -- r9 semdedup mode: clustering bit-replayed by the shared
            -- ivf_fit_assign twin, greedy in-cluster scan in SQL
            SELECT 'semdedup', vec_id, dup_of, sim, list_id
            FROM ({_semdedup_oracle()})
        """,
        "embed_customer": """
            WITH m AS (
              SELECT v AS value, row_number() OVER (ORDER BY v) AS code
              FROM (SELECT DISTINCT c_mktsegment AS v FROM customer
                    WHERE c_mktsegment IS NOT NULL)
            ),
            enc AS (
              SELECT c_custkey, c_acctbal, coalesce(m.code, 0) AS seg_code
              FROM customer LEFT JOIN m ON c_mktsegment = m.value
            )
            SELECT c_custkey,
                   round(sqrt(list_reduce(list_transform(
                     list_concat(list_transform(range(0, 4), i -> ((seg_code::BIGINT * 4 + i + 42) * 2654435761) % 2147483647 / 2147483647::DOUBLE - 0.5), list_transform(range(0, 4), i -> coalesce(c_acctbal, 0.0) * (((i + 43) * 2654435761) % 2147483647 / 2147483647::DOUBLE - 0.5) + (((i + 49) * 2654435761) % 2147483647 / 2147483647::DOUBLE - 0.5))),
                     x -> x * x), (a, b) -> a + b)), 6) AS feat_norm
            FROM enc
        """,
        "events_windows": f"""
            SELECT 'hourly' AS mode, date_trunc('hour', ts) AS window_start,
                   user_id, count(*) AS n_events,
                   {exact_sum_sql('value')} AS sum_value,
                   {exact_avg_sql('value')} AS avg_value,
                   count(DISTINCT event_type) AS n_event_types,
                   CAST(NULL AS VARCHAR) AS step_name
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding', window_start, user_id, count(*),
                   {exact_sum_sql('value')},
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM (
              SELECT make_timestamp(k * 900 * 1000000) AS window_start,
                     user_id, value
              FROM events, unnest(generate_series(
                    CAST(floor(epoch(ts)/900) AS BIGINT) - 3,
                    CAST(floor(epoch(ts)/900) AS BIGINT), 1)) AS t(k)
            ) GROUP BY 2, 3
            UNION ALL
            -- funnel mode: user_id carries the step index, avg_value the
            -- exact-decimal mean seconds-to-step, step_name the step
            SELECT 'funnel', CAST(NULL AS TIMESTAMP),
                   CAST(step AS BIGINT), CAST(n_users AS BIGINT),
                   CAST(NULL AS DOUBLE), avg_seconds,
                   CAST(NULL AS BIGINT), name
            FROM ({_funnel_oracle()})
            UNION ALL
            -- cohort mode (r8 rotation): user_id carries the cohort
            -- period, sum_value the period index, n_events the active
            -- count, n_event_types the cohort size, avg_value the
            -- retention (integer-exact period math: `//` twin of the
            -- engine's exact-multiple subtraction)
            SELECT 'cohort', CAST(NULL AS TIMESTAMP),
                   CAST(cohort_period AS BIGINT), CAST(n_active AS BIGINT),
                   CAST(period_index AS DOUBLE),
                   CAST(n_active AS DOUBLE) / n_cohort,
                   CAST(n_cohort AS BIGINT), CAST(NULL AS VARCHAR)
            FROM (
              WITH ep AS (
                SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS e FROM events
              ), pu AS (
                SELECT user_id AS u,
                       (epoch_us(CAST(ts AS TIMESTAMP)) - ep.e)
                            // (7 * 86400 * CAST(1000000 AS BIGINT)) AS p
                FROM events, ep
              ), fst AS (
                SELECT u, min(p) AS cohort FROM pu GROUP BY u
              ), act AS (
                SELECT DISTINCT pu.u, pu.p, fst.cohort
                FROM pu JOIN fst ON pu.u = fst.u
              ), cells AS (
                SELECT cohort AS cohort_period, p - cohort AS period_index,
                       count(*) AS n_active
                FROM act GROUP BY 1, 2
              ), sizes AS (
                SELECT cohort AS cohort_period, count(*) AS n_cohort
                FROM fst GROUP BY 1
              )
              SELECT c.cohort_period, c.period_index, c.n_active, s.n_cohort
              FROM cells c JOIN sizes s USING (cohort_period)
            )
            UNION ALL
            -- anomaly mode (r8 rotation): user_id carries the event_id,
            -- n_events the 7-day RANGE-frame count, sum_value the
            -- rolling mean, avg_value the z-score, n_event_types the
            -- is_anomaly flag (variance clamped at 0 BOTH sides — see
            -- operators/temporal.rolling_anomaly).  The zstream mode
            -- (r9) re-streams the SAME rows through the stateful
            -- streaming operator, so its oracle is this identical
            -- batch twin under the other tag — the hash match IS the
            -- streaming≡batch proof.
            SELECT m.tag, CAST(NULL AS TIMESTAMP),
                   CAST(event_id AS BIGINT), CAST(n AS BIGINT),
                   s / n,
                   CASE WHEN n >= 5
                         AND sqrt(greatest((ss - s * s / n) / n, 0)) > 0
                        THEN (value - s / n)
                             / sqrt(greatest((ss - s * s / n) / n, 0)) END,
                   CAST(coalesce(abs(
                     CASE WHEN n >= 5
                           AND sqrt(greatest((ss - s * s / n) / n, 0)) > 0
                          THEN (value - s / n)
                               / sqrt(greatest((ss - s * s / n) / n, 0)) END
                   ) >= CAST('2.0' AS DOUBLE), false) AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM (
              SELECT event_id,
                     count(value) OVER w AS n,
                     CAST(CAST(sum(CAST(value AS DECIMAL(30,9))) OVER w
                          AS VARCHAR) AS DOUBLE) AS s,
                     CAST(CAST(sum(CAST(value * value AS DECIMAL(30,9))) OVER w
                          AS VARCHAR) AS DOUBLE) AS ss,
                     value
              FROM (
                SELECT event_id, user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS u, value
                FROM events
              )
              WINDOW w AS (PARTITION BY user_id ORDER BY u
                           RANGE BETWEEN 604800000000 PRECEDING
                                     AND CURRENT ROW)
            ), (VALUES ('anomaly'), ('zstream')) m(tag)
            UNION ALL
            -- r14 rollup mode: window_start carries the hour level,
            -- step_name the event_type, user_id the GROUPING id
            -- (Spark grouping_id() bit order: first rollup column is
            -- the most significant bit — DuckDB GROUPING(a, b) uses
            -- the same convention)
            SELECT 'rollup', hour,
                   CAST(GROUPING(event_type, hour) AS BIGINT),
                   count(*), {exact_sum_sql('value')},
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   event_type
            FROM (
              SELECT event_type, value,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
              FROM events
            ) GROUP BY ROLLUP(event_type, hour)
        """,
        "events_sessions": f"""
            -- determinism contract, matching sessionize(): windows order
            -- by (ts, event_id) so equal-ts rows have ONE lag order in
            -- every engine, and the gap math goes through an explicitly
            -- TRUNCATING ns->us conversion (CAST to microsecond
            -- TIMESTAMP) in case the source parquet is TIMESTAMP(NANOS)
            -- in some environment — Spark truncates nanos on read, so
            -- the oracle must too, not round.
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
                     OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS b
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, ts, value,
                -- CAST: DuckDB's integer window sum is HUGEINT, which a
                -- pandas fetch (fetchdf, the driver's hash path) coerces
                -- to float64 ("7.0" vs Spark's "7") — same pattern as
                -- events_user_profile.sum_k. BIGINT survives as int64.
                CAST(sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   -- CAST: project through microsecond TIMESTAMP so a
                   -- TIMESTAMP(NANOS)-parquet environment truncates
                   -- exactly like Spark's read does (this container's
                   -- parquet is already µs — the cast is a no-op here,
                   -- the gap math above does the same)
                   min(CAST(ts AS TIMESTAMP)) AS session_start,
                   max(CAST(ts AS TIMESTAMP)) AS session_end,
                   {exact_sum_sql('value')} AS sum_value
            FROM sess GROUP BY 1, 2
        """,
        "events_user_profile": f"""
            SELECT user_id, count(*) AS n_events,
                   {exact_sum_sql('value')} AS sum_value,
                   count(DISTINCT event_type) AS n_event_types,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   {', '.join(
                       "COALESCE("
                       + exact_sum_sql(
                           f"CASE WHEN event_type = '{t}' THEN value END")
                       + f", CAST('0' AS DOUBLE)) AS sum_{t}"
                       for t in ('click', 'error', 'purchase', 'signup', 'view')
                   )}
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY user_id
        """,
        "node_store": f"""
            -- mode 'snapshot': whole-history profile (the engine built
            -- it incrementally in 4 micro-batches); mode 'scd2': the
            -- full SCD2 history in ONE window pass (the engine applied
            -- THREE ts-range batches via scd2_apply — hash equality is
            -- the batch-boundary-independence proof)
            WITH d AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                     event_type, value
              FROM events
              QUALIFY row_number() OVER (
                PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_type DESC, value DESC) = 1
            ), s AS (
              SELECT *, lag(event_type) OVER w AS pt,
                     lag(value) OVER w AS pv, lag(ts) OVER w AS pts
              FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), k AS (
              SELECT user_id, ts, event_type, value FROM s
              WHERE pts IS NULL
                 OR NOT (event_type IS NOT DISTINCT FROM pt
                         AND value IS NOT DISTINCT FROM pv)
            )
            SELECT 'snapshot' AS mode, user_id, count(*) AS n_events,
                   {exact_sum_sql('value')} AS sum_value,
                   max(CAST(ts AS TIMESTAMP)) AS last_ts,
                   CAST(NULL AS VARCHAR) AS event_type,
                   CAST(NULL AS DOUBLE) AS value,
                   CAST(NULL AS TIMESTAMP) AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to
            FROM events GROUP BY user_id
            UNION ALL
            SELECT 'scd2' AS mode, user_id,
                   CAST(NULL AS BIGINT) AS n_events,
                   CAST(NULL AS DOUBLE) AS sum_value,
                   CAST(NULL AS TIMESTAMP) AS last_ts,
                   event_type, value,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     AS valid_to
            FROM k
            UNION ALL
            {_qhist_oracle()}
            UNION ALL
            -- mode 'diff' (r11): the engine commits the CUMULATIVE
            -- user profile at the first two scd2 ts-thirds into a
            -- SnapshotStore and runs snapshot_diff(v1, v2); here the
            -- same two version contents are plain ts predicates and
            -- the diff is one full-outer join + IS NOT DISTINCT FROM
            SELECT 'diff' AS mode,
                   coalesce(v2.user_id, v1.user_id) AS user_id,
                   v2.n_events,
                   v2.sum_value,
                   CAST(v2.last_ts AS TIMESTAMP) AS last_ts,
                   CASE WHEN v1.user_id IS NULL THEN 'added'
                        WHEN v2.user_id IS NULL THEN 'removed'
                        WHEN NOT (v1.n_events IS NOT DISTINCT FROM v2.n_events
                              AND v1.sum_value IS NOT DISTINCT FROM v2.sum_value
                              AND v1.last_ts IS NOT DISTINCT FROM v2.last_ts)
                        THEN 'changed' END AS event_type,
                   v1.sum_value AS value,
                   CAST(v1.last_ts AS TIMESTAMP) AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to
            FROM (
              SELECT user_id, count(*) AS n_events,
                     {exact_sum_sql('value')} AS sum_value,
                     max(ts) AS last_ts
              FROM events, (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
                                   max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
                            FROM events) bnd
              WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= bnd.lo + (bnd.hi - bnd.lo) // 3
              GROUP BY user_id
            ) v1
            FULL OUTER JOIN (
              SELECT user_id, count(*) AS n_events,
                     {exact_sum_sql('value')} AS sum_value,
                     max(ts) AS last_ts
              FROM events, (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
                                   max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
                            FROM events) bnd
              WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= bnd.lo + 2 * (bnd.hi - bnd.lo) // 3
              GROUP BY user_id
            ) v2 ON v1.user_id = v2.user_id
            WHERE (CASE WHEN v1.user_id IS NULL THEN 'added'
                        WHEN v2.user_id IS NULL THEN 'removed'
                        WHEN NOT (v1.n_events IS NOT DISTINCT FROM v2.n_events
                              AND v1.sum_value IS NOT DISTINCT FROM v2.sum_value
                              AND v1.last_ts IS NOT DISTINCT FROM v2.last_ts)
                        THEN 'changed' END) IS NOT NULL
        """,
        "events_temporal_join": f"""
            WITH u AS (
              SELECT user_id, ts AS uts, 1 AS side, event_id,
                     NULL AS pv, NULL AS pts
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, 0, NULL, value, ts
              FROM events WHERE event_type = 'purchase'
            ), c AS (
              SELECT user_id, uts, side, event_id,
                     last_value(pv IGNORE NULLS) OVER w AS purchase_value,
                     last_value(pts IGNORE NULLS) OVER w AS purchase_ts
              FROM u
              WINDOW w AS (PARTITION BY user_id ORDER BY uts, side
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), conv AS (
              SELECT ck.event_id AS click_id, count(*) AS conversions,
                     {exact_sum_sql('p.value')} AS conv_value
              FROM events ck JOIN events p ON p.user_id = ck.user_id
               AND ck.event_type = 'click' AND p.event_type = 'purchase'
               AND p.ts >= ck.ts AND p.ts < ck.ts + INTERVAL 1 HOUR
              GROUP BY 1
            )
            -- CASTs: project through microsecond TIMESTAMP so a
            -- TIMESTAMP(NANOS)-parquet environment truncates exactly
            -- like Spark's read (no-op on this container's µs data)
            , base AS (
              SELECT 'asof_range' AS mode, c.event_id AS id, c.user_id,
                   CAST(c.uts AS TIMESTAMP) AS ts,
                   c.purchase_value,
                   CAST(c.purchase_ts AS TIMESTAMP) AS purchase_ts,
                   CAST(conv.conversions AS BIGINT) AS conversions,
                   conv.conv_value,
                   CAST(NULL AS DOUBLE) AS view_value,
                   CAST(NULL AS TIMESTAMP) AS view_ts,
                   CAST(NULL AS BIGINT) AS clicks_24h,
                   CAST(NULL AS DOUBLE) AS click_value_24h
              FROM c LEFT JOIN conv ON c.event_id = conv.click_id
              WHERE c.side = 1
            ), vsrc AS (
              -- feature_frame mode: point-in-time join twin
              -- (plans/feature_store.py) — dedup the view source to
              -- one row per (entity, ts), largest event_id wins,
              -- matching the engine's tie_break
              SELECT user_id, ts, value FROM events
              WHERE event_type = 'view'
              QUALIFY row_number() OVER (
                PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
            ), fu AS (
              SELECT user_id, ts AS uts, 1 AS side, event_id,
                     value AS label, NULL AS vv, NULL AS vts
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT user_id, ts, 0, NULL, NULL, value, ts FROM vsrc
            ), fc AS (
              SELECT user_id, uts, side, event_id, label,
                     last_value(vv IGNORE NULLS) OVER w AS vv_raw,
                     last_value(vts IGNORE NULLS) OVER w AS vts_raw
              FROM fu
              WINDOW w AS (PARTITION BY user_id ORDER BY uts, side
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ), ru AS (
              SELECT user_id, ts AS uts, 1 AS side,
                     CAST(NULL AS DOUBLE) AS cv
              FROM (SELECT DISTINCT user_id, ts FROM events
                    WHERE event_type = 'purchase')
              UNION ALL
              SELECT user_id, ts, 0, value FROM events
              WHERE event_type = 'click'
            ), roll AS (
              SELECT user_id, uts, side,
                     count(CASE WHEN side = 0 THEN 1 END) OVER w AS cnt,
                     coalesce(CAST(CAST((sum(CASE WHEN side = 0 THEN
                       CAST(cv AS DECIMAL(30,9)) END) OVER w)
                       AS VARCHAR) AS DOUBLE), 0.0) AS vsum
              FROM ru
              WINDOW w AS (PARTITION BY user_id ORDER BY uts
                           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
            ), ff AS (
              SELECT 'feature_frame' AS mode, fc.event_id AS id,
                   fc.user_id, CAST(fc.uts AS TIMESTAMP) AS ts,
                   fc.label AS purchase_value,
                   CAST(NULL AS TIMESTAMP) AS purchase_ts,
                   CAST(NULL AS BIGINT) AS conversions,
                   CAST(NULL AS DOUBLE) AS conv_value,
                   CASE WHEN vts_raw >= fc.uts - INTERVAL 3 DAYS
                        THEN vv_raw END AS view_value,
                   CAST(CASE WHEN vts_raw >= fc.uts - INTERVAL 3 DAYS
                        THEN vts_raw END AS TIMESTAMP) AS view_ts,
                   CAST(r.cnt AS BIGINT) AS clicks_24h,
                   r.vsum AS click_value_24h
              FROM fc
              JOIN roll r ON r.user_id = fc.user_id AND r.uts = fc.uts
               AND r.side = 1
              WHERE fc.side = 1
            )
            SELECT *, CAST(NULL AS VARCHAR) AS channel FROM base
            UNION ALL
            SELECT *, CAST(NULL AS VARCHAR) FROM ff
            UNION ALL
            -- r9 attribution modes: multi-touch credit per channel
            -- (operators/temporal.attribution — identical window
            -- predicate, tie order, and exact decimal credit fold)
            SELECT 'attr_' || model AS mode,
                   CAST(NULL AS BIGINT) AS id,
                   CAST(NULL AS BIGINT) AS user_id,
                   CAST(NULL AS TIMESTAMP) AS ts,
                   CAST(NULL AS DOUBLE) AS purchase_value,
                   CAST(NULL AS TIMESTAMP) AS purchase_ts,
                   CAST(n_touches AS BIGINT) AS conversions,
                   credit AS conv_value,
                   CAST(NULL AS DOUBLE) AS view_value,
                   CAST(NULL AS TIMESTAMP) AS view_ts,
                   CAST(NULL AS BIGINT) AS clicks_24h,
                   CAST(NULL AS DOUBLE) AS click_value_24h,
                   event_type AS channel
            FROM ({attribution_oracle_sql()})
        """,
        "customer_features": f"""
            WITH ord AS (
              SELECT c_custkey AS k, {exact_avg_sql('o_totalprice')} AS m,
                     {exact_sum_sql('o_totalprice')} AS s, count(*) AS c
              FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
            ),
            ev AS (
              SELECT c_custkey AS k, {exact_sum_sql('value')} AS s, count(*) AS c
              FROM events JOIN customer ON user_id = c_custkey GROUP BY 1
            )
            SELECT 'features' AS mode, c.c_custkey, c.c_mktsegment,
                   coalesce(ord.m, 0) AS ord_mean_totalprice,
                   coalesce(ord.s, 0) AS ord_sum_totalprice,
                   coalesce(ord.c, 0) AS ord_cnt,
                   coalesce(ev.s, 0) AS ev_sum_value,
                   coalesce(ev.c, 0) AS ev_cnt,
                   {split_label_sql('c.c_custkey')} AS split,
                   CAST(NULL AS DOUBLE) AS te,
                   CAST(NULL AS INT) AS acct_bin,
                   CAST(NULL AS DOUBLE) AS wins,
                   CAST(NULL AS DOUBLE) AS rs
            FROM customer c
            LEFT JOIN ord ON c.c_custkey = ord.k
            LEFT JOIN ev ON c.c_custkey = ev.k
            UNION ALL
            -- r8 rotation: out-of-fold target encoding (leakage
            -- structure replayed bitwise by the shared SQL builder)
            SELECT 'te', c_custkey, c_mktsegment,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   te, CAST(NULL AS INT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM ({_te_oracle_sql})
            UNION ALL
            -- r8 rotation: exact-quantile decile bins
            SELECT 'bin', c_custkey, CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), bin,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM ({_bin_oracle_sql})
            UNION ALL
            -- r9 rotation: winsorize + robust scale (full-sort cut twins)
            SELECT 'scale', w.c_custkey, CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS INT),
                   w.c_acctbal_wins, r.c_acctbal_rs
            FROM ({_wins_oracle_sql}) w
            JOIN ({_rs_oracle_sql}) r ON w.c_custkey = r.c_custkey
        """,
    }

    # r7 registry rotation: the merged mode-tagged entries are built
    # FROM the original per-operator SQL (popped, so the key set stays
    # exactly queries()'s) — the per-mode semantics can't drift from
    # the standalone forms still exercised by bench/pytest.
    sqls["time_convert"] = f"""
        SELECT 'orders' AS mode, o_orderkey AS id, od_year, od_dayofyear,
               od_secs AS secs, od_epoch AS epoch, od_month, od_day,
               od_ordinal, CAST(NULL AS DOUBLE) AS dur_secs,
               CAST(NULL AS TIMESTAMP) AS ts_clamped
        FROM ({sqls.pop("datetime_decompose")})
        UNION ALL
        SELECT 'events', event_id, CAST(NULL AS INT), CAST(NULL AS INT),
               ssm, epoch_s, CAST(NULL AS INT), CAST(NULL AS INT),
               CAST(NULL AS INT), since_midnight_secs, ts_clamped
        FROM ({sqls.pop("events_time_convert")})
    """
    sqls["fingerprint_dedup"] = f"""
        SELECT 'exact' AS mode, content_hash AS h,
               CAST(keeper_id AS BIGINT) AS a, CAST(dup_cnt AS BIGINT) AS b,
               CAST(NULL AS BIGINT) AS c
        FROM ({sqls.pop("dedup_exact")})
        UNION ALL
        SELECT 'simhash', CAST(NULL AS VARCHAR), CAST(id_a AS BIGINT),
               CAST(id_b AS BIGINT), CAST(hamming AS BIGINT)
        FROM ({sqls.pop("simhash")})
    """

    from deep_db_learning_spark.operators import sketch as _sk
    from deep_db_learning_spark.operators.pagerank import pagerank_oracle_sql

    sqls["sketches"] = f"""
        SELECT 'kmv' AS mode, 'l_orderkey' AS key, kth AS ival,
               k_used AS ival2, est AS dval
        FROM ({_sk.kmv_distinct_oracle_sql("lineitem", "l_orderkey")})
        UNION ALL
        SELECT 'hll', 'l_orderkey', intsum, zero_regs, est
        FROM ({_sk.hll_distinct_oracle_sql("lineitem", "l_orderkey")})
        UNION ALL
        SELECT 'cms', item, est, exact, CAST(NULL AS DOUBLE)
        FROM ({_sk.cms_heavy_hitters_oracle_sql("events", "user_id", 10)})
        UNION ALL
        SELECT 'quantile', 'p=' || CAST(p AS VARCHAR), rank,
               CAST(NULL AS BIGINT), value
        FROM ({_sk.exact_quantiles_oracle_sql(
            "lineitem", "l_extendedprice", [0.25, 0.5, 0.75, 0.95, 0.99])})
        UNION ALL
        -- r8: KMV set algebra (union/jaccard/intersect from the two
        -- bottom-k synopses alone — identical estimate arithmetic)
        SELECT 'kmv_set', key, ival, ival2, dval FROM (
          SELECT 'union' AS key, kth AS ival, k_used AS ival2,
                 union_est AS dval
          FROM ({_sk.kmv_set_estimates_oracle_sql(
              "orders", "o_custkey", "events", "user_id", k=256)})
          UNION ALL
          SELECT 'jaccard', n_common, k_used, jaccard_est
          FROM ({_sk.kmv_set_estimates_oracle_sql(
              "orders", "o_custkey", "events", "user_id", k=256)})
          UNION ALL
          SELECT 'intersect', n_common, k_used, intersect_est
          FROM ({_sk.kmv_set_estimates_oracle_sql(
              "orders", "o_custkey", "events", "user_id", k=256)})
        )
        UNION ALL
        -- r8: per-group exact order statistics
        SELECT 'gquantile', l_returnflag || ':p=' || CAST(p AS VARCHAR),
               rank, CAST(NULL AS BIGINT), value
        FROM ({_sk.grouped_quantiles_oracle_sql(
            "lineitem", "l_returnflag", "l_extendedprice",
            [0.25, 0.5, 0.9])})
        UNION ALL
        -- r8: per-group HLL distinct (identical register algebra)
        SELECT 'hll_by', l_returnflag, intsum, zero_regs, est
        FROM ({_sk.hll_distinct_by_oracle_sql(
            "lineitem", "l_returnflag", "l_orderkey")})
    """
    from deep_db_learning_spark.operators.hits import hits_oracle_sql
    from deep_db_learning_spark.operators.labelprop import (
        label_propagation_oracle_sql,
    )

    _PAGERANK_FWD_SQL = (
        "SELECT o_orderkey*2+1 AS src, o_custkey*2 AS dst FROM orders"
    )
    from deep_db_learning_spark.operators.kcore import k_core_oracle_sql
    from deep_db_learning_spark.operators.triangles import (
        cooccurrence_oracle_sql,
        triangle_stats_oracle_sql,
    )

    sqls["pagerank"] = f"""
        SELECT 'pagerank' AS mode, node, rank_scaled, rank,
               CAST(NULL AS BIGINT) AS label
        FROM ({pagerank_oracle_sql(_PAGERANK_NODES_SQL, _PAGERANK_EDGES_SQL, 5)})
        UNION ALL
        SELECT 'labelprop', node, CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE), label
        FROM ({label_propagation_oracle_sql(
            _PAGERANK_FWD_SQL, _PAGERANK_NODES_SQL, iters=5, symmetrize=True)})
        UNION ALL
        -- r8: exact triangle counts + clustering coefficients on the
        -- part co-purchase graph (rank_scaled carries n_triangles,
        -- rank the coefficient, label the degree) — identical packed
        -- (degree<<32 | id) orientation arithmetic both sides
        SELECT 'triangles', node, n_triangles,
               clustering, degree
        FROM ({triangle_stats_oracle_sql(
            cooccurrence_oracle_sql("lineitem", "l_orderkey", "l_partkey"))})
        UNION ALL
        -- r8: k-core membership + induced degree (8 unrolled peel
        -- rounds — past the fixpoint depth, so this IS the k-core)
        SELECT 'kcore', node, core_degree,
               CAST(NULL AS DOUBLE), {_KCORE_K}
        FROM ({k_core_oracle_sql(
            cooccurrence_oracle_sql("lineitem", "l_orderkey", "l_partkey"),
            _KCORE_K, iters=_KCORE_ITERS)})
        UNION ALL
        -- r9: HITS hubs & authorities on the FK graph — unnormalized
        -- integer path counts (ranking-identical to normalized HITS;
        -- the sqrt-free pagerank recipe), unrolled-CTE twin;
        -- rank_scaled carries hub_scaled, label auth_scaled
        SELECT 'hits', node, hub_scaled, CAST(NULL AS DOUBLE),
               auth_scaled
        FROM ({hits_oracle_sql(_PAGERANK_NODES_SQL, _PAGERANK_FWD_SQL)})
    """
    sqls["text_quality"] = f"""
        SELECT 'metrics' AS mode, doc_id, ws_tokens, bpe_tokens, lang,
               fp_md5, fp_minhash, quality, dup_token_frac,
               top_token_frac, mean_tok_freq,
               CAST(NULL AS INT) AS n_tokens,
               CAST(NULL AS DOUBLE) AS logp_sum,
               CAST(NULL AS DOUBLE) AS avg_nll,
               CAST(NULL AS DOUBLE) AS dsir_score,
               CAST(NULL AS INT) AS dsir_rank,
               CAST(NULL AS DOUBLE) AS qf_logit
        FROM ({sqls.pop("text_metrics")})
        UNION ALL
        SELECT 'lm', doc_id, CAST(NULL AS INT), CAST(NULL AS INT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), n_tokens, logp_sum, avg_nll,
               CAST(NULL AS DOUBLE), CAST(NULL AS INT),
               CAST(NULL AS DOUBLE)
        FROM ({_text_quality_lm_oracle()})
        UNION ALL
        SELECT 'dsir', doc_id, CAST(NULL AS INT), CAST(NULL AS INT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS INT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               dsir_score, dsir_rank, CAST(NULL AS DOUBLE)
        FROM ({_text_quality_dsir_oracle()})
        UNION ALL
        -- r10: the in-engine LR quality filter — the oracle re-runs
        -- the FULL descent through the shared python twin (bit-equal
        -- weights) and scores with the identical decimal-fold SQL
        SELECT 'qfilter', doc_id, CAST(NULL AS INT), CAST(NULL AS INT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS INT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS INT), qf_logit
        FROM ({_text_quality_qfilter_oracle()})
    """
    return sqls


def _eval_auc_oracle() -> str:
    """AUC leg of the eval_metrics oracle: the shared
    `binary_auc_sql` integer aggregates over the same score/label."""
    from deep_db_learning_spark.plans.metrics import binary_auc_sql

    return binary_auc_sql(
        "(SELECT o_totalprice, CASE WHEN o_orderstatus = 'F' THEN 1 "
        "ELSE 0 END AS y FROM orders)",
        "o_totalprice",
        "y",
    )


def _eval_ece_oracle() -> str:
    """ECE leg (r11) of the eval_metrics oracle: recompute the whole
    calibration read at oracle-build time — min-max normalization with
    the engine's exact literal divisor, cuts from the full-sort exact
    quantiles, per-bin table via the shared `calibration_table_sql`,
    and the SAME ascending-bin `ece_from_bins` fold — then inline the
    double as an exact literal."""
    import duckdb

    from deep_db_learning_spark.operators.search import dlit
    from deep_db_learning_spark.operators.sketch import (
        exact_quantiles_oracle_sql,
    )
    from deep_db_learning_spark.plans.metrics import (
        calibration_table_sql,
        ece_from_bins,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    lo, hi = con.execute(
        "SELECT min(o_totalprice), max(o_totalprice) FROM orders"
    ).fetchone()
    con.execute(
        "CREATE VIEW cal_rows AS SELECT "
        f"(o_totalprice - {dlit(float(lo))}) / {dlit(float(hi - lo))} AS p, "
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders"
    )
    cuts = [
        r[2]
        for r in con.execute(
            exact_quantiles_oracle_sql(
                "cal_rows", "p", [i / 8 for i in range(1, 8)]
            )
        ).fetchall()
    ]
    bins = con.execute(
        calibration_table_sql("cal_rows", "p", "y", cuts)
    ).fetchall()
    con.close()
    return dlit(ece_from_bins([(b[0], b[1], b[5]) for b in bins]))


def _text_quality_qfilter_oracle() -> str:
    """Oracle half of the q_text_quality ``qfilter`` mode: RE-RUN the
    whole gradient descent through the shared python twin
    (`operators/quality_filter.fit_quality_filter_py` — DuckDB-read
    features, decimal folds, the same numpy nonlinearity, the same
    dec9 update; weights bit-equal to the engine's by the tabnet_full
    twin regime) and emit the identical decimal-fold scoring SQL."""
    import duckdb

    from deep_db_learning_spark.operators.quality_filter import (
        doc_features_sql,
        fit_quality_filter_py,
        quality_logit_scores_sql,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    target = TEXT_DSIR_SPEC["target_source"]
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    feats = con.execute(doc_features_sql("documents")).fetchall()
    labels = dict(
        con.execute(
            f"SELECT doc_id, CASE WHEN source = '{target}' THEN 1 ELSE 0 "
            "END FROM documents WHERE text IS NOT NULL"
        ).fetchall()
    )
    con.close()
    model = fit_quality_filter_py(feats, labels)
    return (
        "SELECT doc_id, qf_logit FROM ("
        + quality_logit_scores_sql("documents", model)
        + ")"
    )


def _text_quality_dsir_oracle() -> str:
    """Oracle half of the q_text_quality ``dsir`` mode: re-fit the
    per-bucket log-likelihood-ratio weights **independently in
    DuckDB** under the shared :data:`TEXT_DSIR_SPEC` (identical
    featurizer SQL, exact integer counts, the SHARED
    ``dsir_lambda_py`` transcendental arithmetic — the LM/BM25-idf
    literal pattern), then emit the scoring SQL with the dec9 λ VALUES
    table and the deterministic resampling rank."""
    import duckdb

    from deep_db_learning_spark.operators.dsir import (
        doc_ngram_buckets_sql,
        dsir_lambda_py,
        dsir_scores_sql,
    )
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    B = TEXT_DSIR_SPEC["n_buckets"]
    target = TEXT_DSIR_SPEC["target_source"]
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    t_counts = [0] * B
    r_counts = [0] * B
    tgt = f"(SELECT * FROM documents WHERE source = '{target}')"
    for view, out in ((tgt, t_counts), ("documents", r_counts)):
        for b, c in con.execute(
            "SELECT bucket, count(*) FROM ("
            + doc_ngram_buckets_sql(view, n_buckets=B)
            + ") GROUP BY 1"
        ).fetchall():
            out[b] = c
    con.close()
    lam = dsir_lambda_py(t_counts, r_counts)
    return f"""
        SELECT doc_id, score AS dsir_score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INT) AS dsir_rank
        FROM ({dsir_scores_sql('documents', lam)})
    """


def _stratified_split_oracle() -> str:
    """node_split ``stratified`` mode: the shared SQL twin from
    `operators/sampling.py` projected to (c_custkey, split)."""
    from deep_db_learning_spark.operators.sampling import (
        stratified_node_split_sql,
    )

    inner = stratified_node_split_sql(
        "(SELECT c_custkey, c_mktsegment FROM customer)",
        "c_mktsegment",
        "c_custkey",
        fractions=(0.7, 0.1, 0.2),
        seed=42,
    )
    return f"SELECT c_custkey, split FROM ({inner})"


def _text_quality_lm_oracle() -> str:
    """Oracle half of the q_text_quality ``lm`` mode: re-fit the
    stupid-backoff LM **independently in DuckDB** under the shared
    :data:`TEXT_LM_SPEC` (same tokenizer, same count-desc/lexicographic
    tie-breaks), then emit the scoring SQL with the python-log literal
    VALUES tables (`operators/lm.py` — the _text_search_oracle idf
    pattern applied to a whole model)."""
    import duckdb

    from deep_db_learning_spark.operators import lm as LM
    from deep_db_learning_spark.plans.train_oracle import DEFAULT_SF_DIR

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", DEFAULT_SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    model = LM.fit_counts_duckdb(con, **TEXT_LM_SPEC)
    con.close()
    return LM.perplexity_oracle_sql(model)
