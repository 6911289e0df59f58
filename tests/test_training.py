"""Trainable path (plans/training.py): deterministic loss descent on
the smoke data, and learned-embedding accuracy beating the
static-feature baseline on data where the signal lives ONLY in the
categorical code (the thing an embedding table exists to learn)."""

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from deep_db_learning_spark.plans.training import (
    assemble_training_frame,
    train_relational_classifier,
)


def test_loss_strictly_decreases_and_is_deterministic(db):
    res = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys, epochs=4, seed=42
    )
    assert len(res.losses) == 4
    assert all(b < a for a, b in zip(res.losses, res.losses[1:]))
    res2 = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys, epochs=4, seed=42
    )
    # decimal-fold gradients -> the trajectory is bit-reproducible
    assert res.losses == res2.losses
    assert "train" in res.accuracy and "test" in res.accuracy


def test_classifier_matches_numpy_decimal_twin(db):
    """The full-batch trajectory (the shared SGD loop with one batch)
    is recomputed bit-for-bit by the independent oracle twin."""
    from deep_db_learning_spark.plans.train_oracle import _sgd_losses

    res = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys, epochs=3, seed=42
    )
    twin = _sgd_losses(SF_SMOKE, epochs=3, seed=42)
    assert res.losses == twin


def test_split_metric_partition_independent(spark):
    """The one per-split evaluator: the regression MSE folds squared
    errors as exact decimals, so a frame whose double sums depend on
    the summation order (errors near 1e4 mixed with errors near 0.03)
    gives the same dict at 1 and 8 partitions, equal to a Python
    Decimal replay; classification accuracy is hits / rows."""
    from deep_db_learning_spark.plans.train_oracle import _dec9
    from deep_db_learning_spark.plans.training import split_metric

    rows = []
    for i in range(400):
        err = 1.0e4 + i * 0.37 if i % 50 == 0 else 0.031 + i * 1.3e-5
        label = float(i % 7) - 3.0
        rows.append(("train" if i % 3 else "test", label, label + err))
    want = {}
    for split in ("train", "test"):
        sq = [(p - y) * (p - y) for s, y, p in rows if s == split]
        # the data is order-sensitive as plain double sums
        assert sum(sq) != sum(sorted(sq))
        want[split] = float(sum(_dec9(v) for v in sq)) / len(sq)
    df = spark.createDataFrame(rows, "split string, label double, pred double")
    one = split_metric(df.repartition(1), "regression")
    eight = split_metric(df.repartition(8), "regression")
    assert one == eight == want

    cls = [("train" if i % 3 else "test", i % 4, (i * 7) % 5) for i in range(301)]
    df = spark.createDataFrame(cls, "split string, label int, pred bigint")
    want = {}
    for split in ("train", "test"):
        hits = [p == y for s, y, p in cls if s == split]
        want[split] = sum(hits) / len(hits)
    assert split_metric(df.repartition(8), "classification") == want


@pytest.fixture(scope="module")
def signal_db(spark):
    # 600 rows: label is a pure function of the cat code (+ a useless
    # numeric noise column) -> only a learned embedding can separate it
    rows = [
        (i, i % 6, f"seg_{(i % 6) % 3}", float((i * 2654435761) % 97) / 97.0)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id bigint, code_col int, seg string, noise double")
    return {
        "tables": {"t": df},
        "primary_keys": {"t": ["id"]},
        "foreign_keys": {"t": []},
    }


def test_embeddings_beat_static_baseline_on_cat_signal(signal_db):
    common = dict(
        target=("t", "seg"),
        cat_col="code_col",
        num_cols=("noise",),
        epochs=30,
        lr=2.0,
        seed=7,
    )
    trained = train_relational_classifier(
        signal_db["tables"],
        signal_db["primary_keys"],
        signal_db["foreign_keys"],
        dim=4,
        **common,
    )
    static = train_relational_classifier(
        signal_db["tables"],
        signal_db["primary_keys"],
        signal_db["foreign_keys"],
        dim=0,  # no embedding features -> the static-feature baseline
        **common,
    )
    # the code fully determines the label: embeddings must solve it,
    # the static model can only guess the majority class
    assert trained.accuracy["test"] > 0.95
    assert trained.accuracy["test"] >= static.accuracy["test"] + 0.3
    assert all(b < a for a, b in zip(trained.losses, trained.losses[1:]))


def test_assemble_training_frame_rejects_bad_root_codes(spark):
    """The root code indexes the embedding table inside the Arrow
    kernels: a negative code would silently wrap to the table's last
    rows and a NULL one would fail there as an opaque IndexError, so
    the assembly's stats pass rejects either, naming ``cat_col``."""
    for bad in (-1, None):
        rows = [
            (i, bad if i == 5 else i % 3, f"seg_{i % 2}", float(i))
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, code_col int, seg string, x double"
        )
        with pytest.raises(ValueError, match="'code_col'"):
            assemble_training_frame(
                {"t": df}, {"t": ["id"]}, {"t": []},
                target=("t", "seg"), cat_col="code_col", num_cols=("x",),
            )


def test_assemble_training_frame_shape(db):
    frame, meta = assemble_training_frame(
        db.tables, db.primary_keys, db.foreign_keys
    )
    assert set(frame.columns) == {"node_id", "code", "nums", "label", "split"}
    row = frame.first()
    assert len(row["nums"]) == meta["n_num"]
    assert meta["n_classes"] == 5  # mktsegment
    # standardization used train rows only: train mean ~0, std ~1
    stats = (
        frame.filter(F.col("split") == "train")
        .select(F.explode(F.col("nums")).alias("v"))
        .agg(F.avg("v").alias("m"), F.stddev_pop("v").alias("s"))
        .first()
    )
    assert abs(stats["m"]) < 0.05 and abs(stats["s"] - 1.0) < 0.05


def test_minibatch_deterministic_and_descending(db):
    from deep_db_learning_spark.plans.training import train_relational_minibatch

    kw = dict(epochs=4, n_batches=2, seed=42, neighbor_budget=5)
    res = train_relational_minibatch(
        db.tables, db.primary_keys, db.foreign_keys, **kw
    )
    assert len(res.losses) == 8  # epochs x n_batches steps
    res2 = train_relational_minibatch(
        db.tables, db.primary_keys, db.foreign_keys, **kw
    )
    # portable-hash batches + decimal-fold gradients -> bit-reproducible
    assert res.losses == res2.losses
    # SGD is not monotone per step, but the trend must descend: the
    # last epoch's mean batch loss beats the first epoch's
    assert sum(res.losses[-2:]) / 2 < sum(res.losses[:2]) / 2
    assert "train" in res.accuracy and "test" in res.accuracy


def test_minibatch_matches_numpy_decimal_twin(db):
    """The Spark minibatch trajectory is recomputed bit-for-bit by the
    independent oracle twin (budgeted assembly + per-step folds)."""
    from deep_db_learning_spark.plans.train_oracle import _sgd_losses
    from deep_db_learning_spark.plans.training import train_relational_minibatch

    res = train_relational_minibatch(
        db.tables, db.primary_keys, db.foreign_keys,
        epochs=2, n_batches=2, seed=42, neighbor_budget=5,
    )
    twin = _sgd_losses(
        SF_SMOKE, epochs=2, n_batches=2, seed=42, neighbor_budget=5
    )
    assert res.losses == twin


def test_neighbor_budget_caps_receptive_field(db):
    """aggregate_along_edge(neighbor_budget=k): degree <= k, the sample
    equals sample_neighbors on the edge list, and every sampled src row
    lies inside the root's bfs_expand_per_root subgraph (the row-level
    twin of the budgeted receptive field)."""
    from deep_db_learning_spark.operators.bfs import bfs_expand_per_root
    from deep_db_learning_spark.operators.graph import build_hetero_graph
    from deep_db_learning_spark.operators.sampling import sample_neighbors

    g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
    et = "orders__o_custkey__customer"
    k = 3
    agg = g.aggregate_along_edge(et, ["o_totalprice"], ["sum"], neighbor_budget=k)
    assert agg.filter(F.col("degree") > k).count() == 0
    # fused budgeted plan == sampling the edge list then aggregating
    sampled = sample_neighbors(g.edges[et], k, 42)
    manual = (
        sampled.join(
            g.nodes["orders"].select(F.col("node_id").alias("src"), "o_totalprice"),
            "src",
        )
        .groupBy("dst")
        .count()
    )
    got = {r["dst"]: r["count"] for r in manual.collect()}
    want = {r["dst"]: r["degree"] for r in agg.collect()}
    assert got == want
    # sampled src rows are a subset of the per-root BFS depth-1 subgraph
    roots = db.df("customer").filter(F.col("c_custkey") < 5).select("c_custkey")
    sub = bfs_expand_per_root(
        db.tables, db.foreign_keys, "customer", roots, 2, db.primary_keys
    )
    visited = {
        (r["root_id"], r["o_orderkey"]) for r in sub["orders"].collect()
    }
    pairs = {
        (r["dst"], r["src"])
        for r in sampled.filter(F.col("dst") < 5).collect()
    }
    assert pairs and pairs.issubset(visited)


def test_regression_trainer_deterministic_and_descending(db):
    from deep_db_learning_spark.plans.training import train_relational_regressor

    res = train_relational_regressor(
        db.tables, db.primary_keys, db.foreign_keys, epochs=4, seed=42
    )
    assert len(res.losses) == 4
    assert all(b < a for a, b in zip(res.losses, res.losses[1:]))
    res2 = train_relational_regressor(
        db.tables, db.primary_keys, db.foreign_keys, epochs=4, seed=42
    )
    assert res.losses == res2.losses
    # standardized-label space: the mean predictor scores mse 1.0 on
    # train; a trained model must at least approach it
    assert res.accuracy["train"] < 1.05
    assert res.params["y_std"] > 0


def test_regression_trainer_matches_numpy_decimal_twin(db):
    from deep_db_learning_spark.plans.train_oracle import _sgd_losses
    from deep_db_learning_spark.plans.training import train_relational_regressor

    res = train_relational_regressor(
        db.tables, db.primary_keys, db.foreign_keys, epochs=3, lr=0.2, seed=42
    )
    twin = _sgd_losses(SF_SMOKE, epochs=3, lr=0.2, seed=42, task="regression")
    assert res.losses == twin


def test_two_layer_matches_numpy_decimal_twin(db):
    """The depth-2 trajectory (tanh orders layer -> decimal-fold mean
    aggregation -> head; BOTH weight matrices trained) is recomputed
    bit-for-bit by the independent twin — assembly in DuckDB, hbar and
    dW1 folds in python Decimal. The second input splits the roots into
    three uneven portable-hash batches, each collected per step from
    the Spark-side batch column."""
    import numpy as np
    from deep_db_learning_spark.plans.train_oracle import _two_layer_losses
    from deep_db_learning_spark.plans.training import (
        train_relational_two_layer,
    )

    for n_batches, seed in ((2, 42), (3, 7)):
        res = train_relational_two_layer(
            db.tables, db.primary_keys, db.foreign_keys,
            epochs=2, n_batches=n_batches, seed=seed, neighbor_budget=5,
        )
        twin = _two_layer_losses(
            SF_SMOKE, epochs=2, n_batches=n_batches, seed=seed, neighbor_budget=5
        )
        assert res.losses == twin
        assert len(res.losses) == 2 * n_batches
        # draw order: emb, emb1, W1, W2 (plans/training.py)
        rng = np.random.default_rng(seed)
        rng.uniform(-0.5, 0.5, size=res.params["emb"].shape)
        emb1_init = rng.uniform(-0.5, 0.5, size=res.params["emb1"].shape)
        W1_init = rng.uniform(-0.5, 0.5, size=res.params["W1"].shape) * 0.1
        W2_init = rng.uniform(-0.5, 0.5, size=res.params["W2"].shape) * 0.1
        # every deep parameter moved off its init — gradient genuinely
        # reaches the layer-1 weights AND the layer-1 embedding table
        # through the aggregation
        assert not np.array_equal(res.params["W1"], W1_init)
        assert not np.array_equal(res.params["W2"], W2_init)
        assert not np.array_equal(res.params["emb1"], emb1_init)
        assert "train" in res.accuracy and "test" in res.accuracy


def test_two_layer_descending_trend(db):
    """Per-batch SGD loss subsequences descend in trend at the bench
    hyperparameters (same contract the 1-layer minibatch holds)."""
    from deep_db_learning_spark.plans.training import (
        TWO_LAYER_BENCH_CONFIG,
        train_relational_two_layer,
    )

    res = train_relational_two_layer(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TWO_LAYER_BENCH_CONFIG,
    )
    nb = TWO_LAYER_BENCH_CONFIG["n_batches"]
    for bi in range(nb):
        seq = res.losses[bi::nb]
        assert seq[-1] < seq[0]


def test_child_frame_cardinality_is_distinct_count_plus_one(spark, db):
    """The layer cardinality comes from the stats pass as
    countDistinct(cat) + 1; dict_encode's code contract (NULL→0, sorted
    non-null values→1..n) makes that max(code) + 1, with NULLs present
    and on an all-NULL column alike. Every keyed layer frame carries
    ``(parent_key, child_key, code, x)``."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.plans.stack import (
        THREE_LAYER_SPECS,
        EdgeLayerSpec,
        _assemble_child_frame,
    )

    for spec in THREE_LAYER_SPECS:
        of, _card = _assemble_child_frame(db.tables, spec, seed=42)
        assert set(of.columns) == {"parent_key", "child_key", "code", "x"}

    spec = EdgeLayerSpec(
        table="kids", fk="pid", cat_col="cat", num_cols=("x",), key="id"
    )
    for cats, want in (
        (["b", None, "a", "b", None, "c", "a", None], 4),
        ([None] * 8, 1),
    ):
        kids = spark.createDataFrame(
            [(i, i % 3, c, float(i)) for i, c in enumerate(cats)],
            "id bigint, pid bigint, cat string, x double",
        )
        of, card = _assemble_child_frame({"kids": kids}, spec, seed=1)
        assert card == want
        assert of.agg(F.max("code")).first()[0] + 1 == want


def test_two_layer_folds_partitioning_invariant(db, spark):
    """The decimal folds behind hbar and dW are bit-identical under
    different partitionings of the layer frame — the core determinism
    claim (Arrow batch boundaries change with partitioning; the
    fixed-order kernel + decimal quantization make the results exact
    anyway)."""
    import numpy as np
    from dataclasses import replace

    from pyspark.sql import functions as F

    from deep_db_learning_spark.plans.stack import (
        ORDERS_LAYER_SPEC,
        _assemble_child_frame,
        _join_gradient,
        _layer_backward_fold,
        _layer_forward_frame,
    )

    spec = replace(ORDERS_LAYER_SPEC, neighbor_budget=5)
    of, card1 = _assemble_child_frame(db.tables, spec, seed=42)
    d_e, d1 = spec.emb_dim, spec.hidden_dim
    m1 = d_e + spec.n_feats
    rng = np.random.default_rng(7)
    E1 = rng.uniform(-0.5, 0.5, size=(card1, d_e))
    W1 = rng.uniform(-0.5, 0.5, size=(m1, d1)) * 0.1
    b1 = np.zeros(d1)

    variants = [of.repartition(1), of.repartition(7), of.repartition(32)]

    def fold(v):
        return {
            int(r["parent_key"]): (np.array(r["hbar"]), r["deg"])
            for r in _layer_forward_frame(v, E1, W1, b1, d1).collect()
        }

    fwd = [fold(v) for v in variants]
    for other in fwd[1:]:
        assert set(other) == set(fwd[0])
        for ck in fwd[0]:
            assert other[ck][1] == fwd[0][ck][1]
            assert np.array_equal(other[ck][0], fwd[0][ck][0]), ck

    g_rows = [
        (ck, [float(x) for x in rng.uniform(-0.1, 0.1, size=d1)], int(deg))
        for ck, (_, deg) in sorted(fwd[0].items())
    ]
    g_frame = F.broadcast(
        spark.createDataFrame(g_rows, "key bigint, gout array<double>, gdeg bigint")
    )
    bwd = [
        _layer_backward_fold(
            _join_gradient(v, g_frame), E1, W1, b1, d_e, m1, d1, card1, False
        )
        for v in variants
    ]
    for dW1o, db1o, demb1o in bwd[1:]:
        assert np.array_equal(dW1o, bwd[0][0])
        assert np.array_equal(db1o, bwd[0][1])
        assert np.array_equal(demb1o, bwd[0][2])


def test_stack_second_edge_matches_twin(db):
    """Ask r4 #1 — the trained layer is DRIVEN BY THE SPEC, not a
    hard-coded shape: the same stack trainer runs a customer←events
    layer (different child table, fk, categorical, and numeric
    feature; no nested child_agg) and the generic twin reproduces the
    trajectory (and the per-split accuracy) bit-for-bit."""
    from deep_db_learning_spark.plans.stack import (
        EdgeLayerSpec,
        train_relational_stack,
    )
    from deep_db_learning_spark.plans.train_oracle import _stack_losses

    spec = EdgeLayerSpec(
        table="events",
        fk="user_id",
        cat_col="event_type",
        num_cols=("value",),
        key="event_id",
        emb_dim=2,
        hidden_dim=3,
        neighbor_budget=7,
    )
    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys,
        layers=(spec,), epochs=2, n_batches=2, seed=11, neighbor_budget=5,
    )
    twin, twin_acc = _stack_losses(
        SF_SMOKE, (spec,),
        epochs=2, n_batches=2, seed=11, neighbor_budget=5, with_accuracy=True,
    )
    assert res.losses == twin
    assert len(res.losses) == 4
    assert res.losses[-1] < res.losses[0]
    # the classification head's per-split accuracy, from the scored
    # root frame, equals the twin's driver-side argmax loop
    assert res.accuracy == twin_acc


def test_stack_three_layer_matches_twin(db):
    """Ask r4 #5 — depth-3 (customer ← orders ← lineitem): the
    aggregation-of-aggregation gradient. Both hidden weight matrices
    and all three embedding tables move off their inits, and the twin
    recomputes every step's loss bit-for-bit (including the composite
    -PK lineitem key packing and its budget sample)."""
    import numpy as np

    from deep_db_learning_spark.plans.stack import (
        THREE_LAYER_SPECS,
        train_relational_stack,
    )
    from deep_db_learning_spark.plans.train_oracle import _three_layer_losses

    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys,
        layers=THREE_LAYER_SPECS, epochs=2, n_batches=2, seed=42,
        neighbor_budget=5,
    )
    twin = _three_layer_losses(
        SF_SMOKE, epochs=2, n_batches=2, seed=42,
        neighbor_budget=5,
    )
    assert res.losses == twin
    assert len(res.losses) == 4
    # replay the init draws to prove every deep parameter trained
    card0 = res.params["emb"].shape[0]
    rng = np.random.default_rng(42)
    rng.uniform(-0.5, 0.5, size=res.params["emb"].shape)
    for lay in res.params["layers"]:
        init = rng.uniform(-0.5, 0.5, size=lay["emb"].shape)
        assert not np.array_equal(lay["emb"], init)
    for lay in res.params["layers"]:
        init = rng.uniform(-0.5, 0.5, size=lay["W"].shape) * 0.1
        assert not np.array_equal(lay["W"], init)
        assert np.any(lay["b"] != 0.0)


def test_stack_regression_matches_twin(db):
    """The stack's regression head (k=1 linear, half-squared error,
    train-standardized c_acctbal label — the MSELoss branch) trains
    through the deep layers too: engine and twin agree bit-for-bit on
    every step loss AND on the decimal-folded per-split MSE."""
    from dataclasses import replace

    from deep_db_learning_spark.plans.stack import (
        ORDERS_LAYER_SPEC,
        train_relational_stack,
    )
    from deep_db_learning_spark.plans.train_oracle import _stack_losses

    spec = replace(ORDERS_LAYER_SPEC, neighbor_budget=5)
    kw = dict(
        layers=(spec,),
        target=("customer", "c_acctbal"),
        num_cols=(),
        epochs=2,
        n_batches=2,
        seed=42,
        neighbor_budget=5,
        task="regression",
        lr=0.2,
    )
    res = train_relational_stack(db.tables, db.primary_keys, db.foreign_keys, **kw)
    twin_losses, twin_mse = _stack_losses(
        SF_SMOKE,
        (spec,),
        epochs=2,
        n_batches=2,
        seed=42,
        neighbor_budget=5,
        lr=0.2,
        task="regression",
        with_accuracy=True,
    )
    assert res.losses == twin_losses
    assert len(res.losses) == 4
    assert res.accuracy == twin_mse


def test_stack_childless_roots_and_spec_validation(spark):
    """Degenerate shapes: (a) roots whose batches contain no child rows
    take the zero-gradient branch (head still trains); (b) an inner
    layer without a key expression is rejected up front."""
    import numpy as np
    import pytest

    from deep_db_learning_spark.plans.stack import (
        EdgeLayerSpec,
        THREE_LAYER_SPECS,
        train_relational_stack,
    )

    # 40 roots; every child row points at a root id outside the table,
    # so no root ever has children
    roots = spark.createDataFrame(
        [(i, i % 3, f"s{i % 2}", float(i)) for i in range(40)],
        "id bigint, cat int, seg string, x double",
    )
    kids = spark.createDataFrame(
        [(i, 10_000 + i, "a", float(i)) for i in range(20)],
        "kid bigint, parent bigint, kcat string, kx double",
    )
    from deep_db_learning_spark.schema import ForeignKey

    tables = {"roots": roots, "kids": kids}
    pks = {"roots": ["id"], "kids": ["kid"]}
    fks = {"roots": [], "kids": [ForeignKey(["parent"], "roots", ["id"])]}
    spec = EdgeLayerSpec(
        table="kids", fk="parent", cat_col="kcat", num_cols=("kx",), key="kid"
    )
    res = train_relational_stack(
        tables, pks, fks,
        layers=(spec,), target=("roots", "seg"), cat_col="cat", num_cols=("x",),
        epochs=2, n_batches=2, seed=3, neighbor_budget=None,
    )
    assert len(res.losses) == 4
    assert all(np.isfinite(l) for l in res.losses)
    # the deep layer never received gradient: its weights followed the
    # pure L2-decay trajectory W_init * (1 - lr*l2)^steps — proving the
    # zero-gradient branch ran (and nothing crashed on empty joins)
    card1 = res.params["layers"][0]["emb"].shape[0]
    rng = np.random.default_rng(3)
    rng.uniform(-0.5, 0.5, size=res.params["emb"].shape)
    emb1_init = rng.uniform(-0.5, 0.5, size=(card1, spec.emb_dim))
    W1_init = rng.uniform(
        -0.5, 0.5, size=res.params["layers"][0]["W"].shape
    ) * 0.1
    decay = (1 - 0.5 * 1e-4) ** 4
    assert np.allclose(res.params["layers"][0]["W"], W1_init * decay, rtol=1e-12)
    assert np.allclose(res.params["layers"][0]["emb"], emb1_init * decay, rtol=1e-12)
    assert np.all(res.params["layers"][0]["b"] == 0.0)
    assert "train" in res.accuracy

    with pytest.raises(ValueError, match="needs a key expression"):
        bad = (
            EdgeLayerSpec(table="kids", fk="parent", cat_col="kcat", key=None),
        ) + (THREE_LAYER_SPECS[1],)
        train_relational_stack(tables, pks, fks, layers=bad, target=("roots", "seg"),
                               cat_col="cat", num_cols=("x",))


def test_stack_high_card_frame_auto(spark):
    """A 60k-cardinality layer trains through the one embedding path:
    its table is a driver array the Arrow kernels index by code, the
    step has a finite loss, and an in-field code's row moves off its
    init draw."""
    import numpy as np
    from pyspark.sql import functions as F

    from deep_db_learning_spark.plans.stack import (
        EdgeLayerSpec,
        train_relational_stack,
    )
    from deep_db_learning_spark.schema import ForeignKey

    n_cat = 60_000
    roots = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("cat"),
        F.concat(F.lit("s"), F.col("id") % 2).alias("seg"),
        (F.col("id") * 1.5).alias("x"),
    )
    kids = spark.range(n_cat).select(
        F.col("id").alias("kid"),
        (F.col("id") % 200).alias("parent"),
        F.concat(F.lit("c"), F.col("id")).alias("kcat"),  # all-distinct
        (F.col("id") % 17).cast("double").alias("kx"),
    )
    tables = {"roots": roots, "kids": kids}
    pks = {"roots": ["id"], "kids": ["kid"]}
    fks = {"roots": [], "kids": [ForeignKey(["parent"], "roots", ["id"])]}
    spec = EdgeLayerSpec(
        table="kids", fk="parent", cat_col="kcat", num_cols=("kx",), key="kid",
        emb_dim=2, hidden_dim=2,
    )
    res = train_relational_stack(
        tables, pks, fks,
        layers=(spec,), target=("roots", "seg"), cat_col="cat", num_cols=("x",),
        epochs=1, n_batches=1, seed=3, neighbor_budget=None,
    )
    assert len(res.losses) == 1
    assert all(np.isfinite(l) for l in res.losses)
    emb = res.params["layers"][0]["emb"]
    assert isinstance(emb, np.ndarray)
    assert emb.shape == (n_cat + 1, 2)  # every code incl. NULL→0 kept
    # codes outside the receptive field decayed, in-field codes moved
    # by their gradient — spot-check a trained row is off its init
    rng = np.random.default_rng(3)
    rng.uniform(-0.5, 0.5, size=res.params["emb"].shape)
    init = rng.uniform(-0.5, 0.5, size=(n_cat + 1, 2))
    assert not np.array_equal(emb[1], init[1])


def test_trainer_root_generality_orders_target(db):
    """The root side is schema-driven too: train on a DIFFERENT target
    table (orders — label o_orderpriority, categorical o_custkey,
    lineitem aggregates as neighbor features) with the same trainer;
    descent + bit-reproducibility hold."""
    res = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys,
        target=("orders", "o_orderpriority"),
        cat_col="o_custkey",
        num_cols=("o_totalprice",),
        epochs=3,
        seed=42,
    )
    assert len(res.losses) == 3
    assert res.losses[-1] < res.losses[0]
    res2 = train_relational_classifier(
        db.tables, db.primary_keys, db.foreign_keys,
        target=("orders", "o_orderpriority"),
        cat_col="o_custkey",
        num_cols=("o_totalprice",),
        epochs=3,
        seed=42,
    )
    assert res.losses == res2.losses
    assert "train" in res.accuracy and "test" in res.accuracy


def test_tabnet_head_trains_through_fit_fn(db):
    """Ask r5 #5 — the TabNet decision head trains IN-ENGINE on the
    assembled root frame: frozen seeded encoder (batch-independent
    fixed-order GEMMs), decimal-fold head GD. The independent twin
    replays every epoch's loss bit-for-bit, the loss descends, and the
    returned head parameters moved off their init."""
    import numpy as np

    from deep_db_learning_spark.plans.tabnet_head import (
        TABNET_HEAD_BENCH_CONFIG,
        train_tabnet_head,
    )
    from deep_db_learning_spark.plans.train_oracle import _tabnet_head_losses

    res = train_tabnet_head(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TABNET_HEAD_BENCH_CONFIG,
    )
    twin = _tabnet_head_losses(
        SF_SMOKE, seed=42, **TABNET_HEAD_BENCH_CONFIG
    )
    assert res.losses == twin
    assert len(res.losses) == TABNET_HEAD_BENCH_CONFIG["epochs"]
    assert res.losses[-1] < res.losses[0]
    k = res.params["W"].shape[1]
    rng = np.random.default_rng(42)
    W0 = rng.uniform(-0.5, 0.5, size=res.params["W"].shape) * 0.1
    assert not np.array_equal(res.params["W"], W0)
    assert np.any(res.params["b"] != 0.0)
    assert "train" in res.accuracy and "test" in res.accuracy
    assert res.accuracy["train"] > 1.0 / k  # better than uniform guessing
    # a head trainer scores its own way: no stack scored frame to reuse
    assert res.scored is None and res.scored_from is None


def test_tabnet_exact_mode_batch_independent(spark):
    """The encoder (every linear map a fixed-order accumulation) is
    invariant to the Arrow batch split: one partition vs eight give
    bitwise-identical encodings (the property the head trainer's
    bit-pinned trajectory rests on)."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.kernels import tabnet_encode

    df = spark.range(512).select(
        F.col("id"),
        F.array(*[(F.col("id") * (j + 1) % 97 / 97.0) for j in range(12)]).alias(
            "feat"
        ),
    )
    enc = tabnet_encode(F.col("feat"), 6, num_layers=2, seed=7)
    one = {
        r["id"]: tuple(r["e"])
        for r in df.repartition(1).select("id", enc.alias("e")).collect()
    }
    eight = {
        r["id"]: tuple(r["e"])
        for r in df.repartition(8).select("id", enc.alias("e")).collect()
    }
    assert one == eight


def test_trompt_head_trains_through_fit_fn(db):
    """N23 upgrade (r6): the Trompt decision head trains IN-ENGINE on
    the same assembled root frame — frozen seeded prompt-bank
    encoder over per-column embeddings (per-row matmuls, shapes
    batch-independent), mean-pooled, decimal-fold head GD; the twin
    replays every epoch's loss bit-for-bit and the loss descends."""
    from deep_db_learning_spark.plans.tabnet_head import (
        TROMPT_HEAD_BENCH_CONFIG,
        train_trompt_head,
    )
    from deep_db_learning_spark.plans.train_oracle import _trompt_head_losses

    res = train_trompt_head(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TROMPT_HEAD_BENCH_CONFIG,
    )
    twin = _trompt_head_losses(
        SF_SMOKE, seed=42, **TROMPT_HEAD_BENCH_CONFIG
    )
    assert res.losses == twin
    assert res.losses[-1] < res.losses[0]
    assert "train" in res.accuracy


def test_head_trainers_regression_task(db):
    """Both encoder heads carry the regression branch (r6): k=1
    half-squared-error head on the train-standardized c_acctbal label,
    decimal-fold MSE eval; the twin replays every epoch's loss
    bit-for-bit for each encoder."""
    from deep_db_learning_spark.plans.tabnet_head import (
        TABNET_HEAD_BENCH_CONFIG,
        TROMPT_HEAD_BENCH_CONFIG,
        train_tabnet_head,
        train_trompt_head,
    )
    from deep_db_learning_spark.plans.train_oracle import (
        _tabnet_head_losses,
        _trompt_head_losses,
    )

    kw = dict(target=("customer", "c_acctbal"), task="regression", seed=42)
    tab = train_tabnet_head(
        db.tables, db.primary_keys, db.foreign_keys, **kw,
        **TABNET_HEAD_BENCH_CONFIG,
    )
    twin_tab = _tabnet_head_losses(
        SF_SMOKE, seed=42, task="regression",
        **TABNET_HEAD_BENCH_CONFIG,
    )
    assert tab.losses == twin_tab
    assert tab.losses[-1] < tab.losses[0]
    # standardized-label space: the mean predictor scores ~1.0
    assert tab.accuracy["train"] < 1.5

    tro = train_trompt_head(
        db.tables, db.primary_keys, db.foreign_keys, **kw,
        **TROMPT_HEAD_BENCH_CONFIG,
    )
    twin_tro = _trompt_head_losses(
        SF_SMOKE, seed=42, task="regression",
        **TROMPT_HEAD_BENCH_CONFIG,
    )
    assert tro.losses == twin_tro
    assert tro.losses[-1] < tro.losses[0]


def test_frame_fold_overflow_guard(spark):
    """The one exact gradient fold (``training.fold_dec9``) on real
    frames: a legal dec9 frame folds to the Decimal totals (and per-key
    sums) of a Python replay; an empty frame folds to zeros; a NULL
    decimal sum — accumulator overflow, which non-ANSI Spark turns into
    NULL instead of raising — raises in the global fold and in the
    per-key fold, never a silent zero gradient; so does a missing
    position. Before the fold, ``_dec9_py`` (and the twin's ``_dec9``)
    raises on NaN, ±inf and ``|x| >= 1e19`` — also from inside the
    Arrow worker of a ``dec9_udf`` frame."""
    from decimal import Decimal

    import numpy as np
    import pytest
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from deep_db_learning_spark.plans.train_oracle import _dec9
    from deep_db_learning_spark.plans.training import _dec9_py, dec9_udf, fold_dec9

    rng = np.random.default_rng(3)
    vals = rng.uniform(-2.0, 2.0, size=(40, 3))
    keys = [i % 4 for i in range(40)]
    df = spark.createDataFrame(
        [(k, [float(v) for v in row]) for k, row in zip(keys, vals)],
        "k bigint, x array<double>",
    ).repartition(3)
    g = df.select("k", dec9_udf(lambda x: np.vstack(x.to_list()), "x").alias("g"))

    def replay(rows):
        return [sum((_dec9(r[i]) for r in rows), Decimal(0)) for i in range(3)]

    tot, per_key, n = fold_dec9(g, 3)
    assert n == 40 and per_key == {}
    assert tot.tolist() == [float(v) for v in replay(vals)]
    tot_k, per_key, n_k = fold_dec9(g, 3, by="k")
    assert n_k == 40 and tot_k.tolist() == tot.tolist()
    for key in range(4):
        want = replay([r for r, kk in zip(vals, keys) if kk == key])
        assert per_key[key].tolist() == [float(v) for v in want]
    tot0, _, n0 = fold_dec9(g.filter(F.col("k") < 0), 3)
    assert n0 == 0 and tot0.tolist() == [0.0, 0.0, 0.0]
    ragged = g.select(
        "k",
        F.when(F.col("k") == 0, F.slice("g", 1, 2)).otherwise(F.col("g")).alias("g"),
    )
    with pytest.raises(ArithmeticError, match="position"):
        fold_dec9(ragged, 3, by="k")

    # decimal(38,9) components: two rows past 5e28 overflow the sum
    big = F.lit("60000000000000000000000000000").cast("decimal(38,9)")
    over = spark.range(4).select(
        (F.col("id") % 2).alias("k"),
        F.array(big, F.lit(1).cast("decimal(38,9)")).alias("g"),
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ArithmeticError, match="overflow"):
            fold_dec9(over, 2)
        with pytest.raises(ArithmeticError, match="overflow"):
            fold_dec9(over, 2, by="k")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

    # the quantizer's domain: the largest doubles below 1e19 keep their
    # value; NaN, ±inf and |x| >= 1e19 raise, naming value and bound
    for v in (9.9e18, -9.999999999999998e18):
        assert _dec9_py(Decimal, v) == _dec9(v) == Decimal(repr(v))
    for v in (float("nan"), float("inf"), float("-inf"), 1e19, -1e19, 1e22):
        with pytest.raises(ArithmeticError, match="must be finite and below 1e"):
            _dec9_py(Decimal, v)
        with pytest.raises(ArithmeticError, match="must be finite and below 1e"):
            _dec9(v)
    wild = spark.createDataFrame([([1.0],), ([1e22],)], "x array<double>")
    with pytest.raises(PythonException, match="dec9 cannot quantize 1e\\+22"):
        wild.select(dec9_udf(lambda x: np.vstack(x.to_list()), "x")).collect()


def test_fold_query_runs_the_kernel_once(spark):
    """The fold's plan evaluates its ``dec9_udf`` kernel in ONE
    ``ArrowEvalPython`` node, global and per key: a plain ``posexplode``
    lets Spark push an inferred ``size(g) > 0`` filter below the
    projection and run the kernel twice. The ``_outer`` form would emit
    a NULL position for an empty vector; the fold rejects it."""
    import numpy as np

    from deep_db_learning_spark.functions.exact_agg import DECIMAL_TYPE
    from deep_db_learning_spark.plans.training import _fold_query, dec9_udf, fold_dec9

    df = spark.range(4).select(
        (F.col("id") % 2).alias("k"), F.col("id").cast("double").alias("x")
    )
    g = df.select(
        "k",
        dec9_udf(lambda x: np.vstack([x.to_numpy(), -x.to_numpy()]).T, "x").alias(
            "g"
        ),
    )
    for by in (None, "k"):
        plan = _fold_query(g, by)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
    one = F.array(F.lit(1).cast(DECIMAL_TYPE))
    empty = spark.range(2).select(
        F.when(F.col("id") == 0, F.array().cast(f"array<{DECIMAL_TYPE}>"))
        .otherwise(one)
        .alias("g")
    )
    with pytest.raises(ArithmeticError, match="NULL or empty"):
        fold_dec9(empty, 1)


def test_level1_gradient_frame_is_a_local_table(spark):
    """The stack's level-1 gradient frame is built from an Arrow table
    on the driver: its executed plan is a ``LocalTableScan`` (no
    Python-RDD job, no worker) with Arrow conversion off, its schema is
    the join's, and it holds the childless-filtered head gradients
    bit for bit; a batch of childless roots has no frame."""
    import numpy as np

    from deep_db_learning_spark.plans.stack import _level1_gradient_frame

    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        bids = np.array([3, 8, 11, 40], dtype=np.int64)
        gH = np.random.default_rng(0).normal(size=(4, 3)) * 1e-7
        degs = np.array([2, 0, 1, 5], dtype=np.int64)
        f = _level1_gradient_frame(spark, bids, gH, degs)
        plan = f._jdf.queryExecution().executedPlan()
        assert plan.nodeName() == "LocalTableScan"
        assert f.schema.simpleString() == (
            "struct<key:bigint,gout:array<double>,gdeg:bigint>"
        )
        got = [
            (r["key"], [v.hex() for v in r["gout"]], r["gdeg"]) for r in f.collect()
        ]
        assert got == [
            (int(bids[j]), [float(v).hex() for v in gH[j]], int(degs[j]))
            for j in (0, 2, 3)
        ]
        assert _level1_gradient_frame(spark, bids, gH, np.zeros(4, np.int64)) is None
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a Spark job group; return its result and the
    number of jobs the group fired."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_predict_relational_stack_matches_trained_accuracy(db, tmp_path):
    """Batch inference (predict_relational_stack) reproduces the
    trainer's own per-split accuracy exactly and yields one prediction
    per labeled root. From the TrainResult it hands back the frame the
    trainer scored — predict plus a Parquet write is at most 2 Spark
    jobs — and that frame equals what the params-dict path (assemble,
    fold, score) computes."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.plans.stack import (
        predict_relational_stack,
        train_relational_stack,
    )

    kw = dict(
        epochs=1, n_batches=2, seed=42, neighbor_budget=5,
    )
    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys, **kw
    )
    out_dir = str(tmp_path / "preds")

    def predict_and_write():
        p = predict_relational_stack(
            db.tables, db.primary_keys, db.foreign_keys, res, **{
                k: v for k, v in kw.items() if k not in ("epochs", "n_batches")
            }
        )
        p.write.parquet(out_dir)
        return p

    preds, n_jobs = _jobs_in_group(db.spark, "predict-reuse", predict_and_write)
    assert preds is res.scored
    assert n_jobs <= 2
    rows = preds.collect()
    assert len(rows) == db.df("customer").count()
    assert all(r["pred"] is not None for r in rows)
    acc = {
        r["split"]: r["m"]
        for r in preds.groupBy("split")
        .agg(F.avg((F.col("pred") == F.col("label")).cast("double")).alias("m"))
        .collect()
    }
    assert acc == res.accuracy
    # params dict is accepted in place of the TrainResult
    again = predict_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys, res.params, **{
            k: v for k, v in kw.items() if k not in ("epochs", "n_batches")
        }
    )
    assert again is not res.scored
    a = sorted((r["node_id"], r["pred"]) for r in rows)
    b = sorted((r["node_id"], r["pred"]) for r in again.collect())
    assert a == b
    written = db.spark.read.parquet(out_dir)
    assert sorted((r["node_id"], r["pred"]) for r in written.collect()) == a


def test_predict_relational_stack_rebuilds_for_other_inputs(db):
    """The carried scored frame is reused only for the inputs it came
    from: another seed, or a re-read of the same tables (new frame
    objects), takes the assemble-and-score path — and still scores
    exactly what a fresh predict from the params computes."""
    from deep_db_learning_spark.plans.stack import (
        predict_relational_stack,
        train_relational_stack,
    )
    from deep_db_learning_spark.sources import load_testdata

    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys,
        epochs=1, n_batches=2, seed=42, neighbor_budget=5,
    )

    def scored(d, result, seed):
        out = predict_relational_stack(
            d.tables, d.primary_keys, d.foreign_keys, result,
            seed=seed, neighbor_budget=5,
        )
        rows = sorted((r["node_id"], r["split"], r["pred"]) for r in out.collect())
        return out, rows

    other_seed, rows = scored(db, res, 7)
    assert other_seed is not res.scored
    assert rows == scored(db, res.params, 7)[1]

    reread = load_testdata(db.spark, SF_SMOKE)
    fresh, rows = scored(reread, res, 42)
    assert fresh is not res.scored
    assert rows == scored(db, res, 42)[1]
    assert rows == scored(reread, res.params, 42)[1]


def test_predict_relational_stack_regression_denormalizes(db):
    from deep_db_learning_spark.plans.stack import (
        predict_relational_stack,
        train_relational_stack,
    )

    kw = dict(
        target=("customer", "c_acctbal"),
        num_cols=("c_acctbal",),
        task="regression",
        epochs=1, n_batches=2, seed=42, neighbor_budget=5,
    )
    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys, **kw
    )
    preds = predict_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys, res, **{
            k: v for k, v in kw.items() if k not in ("epochs", "n_batches")
        }
    )
    r = preds.first()
    assert "pred_raw" in preds.columns
    # de-standardization is the affine map recorded at assembly
    assert r["pred_raw"] != r["pred"]
    # the reused frame carries the assembly meta the rebuild path
    # recomputes: identical pred_raw either way
    rebuilt = predict_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys, res.params, **{
            k: v for k, v in kw.items() if k not in ("epochs", "n_batches")
        }
    )
    assert sorted(
        (r["node_id"], r["pred"], r["pred_raw"]) for r in preds.collect()
    ) == sorted(
        (r["node_id"], r["pred"], r["pred_raw"]) for r in rebuilt.collect()
    )


def test_save_load_stack_model_round_trip(db, tmp_path):
    """Persist → reload → predict must be bit-identical to predicting
    with the in-memory TrainResult (npz keeps exact float64 bits)."""
    import numpy as np

    from deep_db_learning_spark.plans.persistence import (
        load_stack_model,
        save_stack_model,
    )
    from deep_db_learning_spark.plans.stack import (
        predict_relational_stack,
        train_relational_stack,
    )

    res = train_relational_stack(
        db.tables, db.primary_keys, db.foreign_keys,
        epochs=1, n_batches=2, seed=42, neighbor_budget=5,
    )
    path = str(tmp_path / "model")
    save_stack_model(res, path)
    params = load_stack_model(db.spark, path)
    assert np.array_equal(params["emb"], res.params["emb"])
    assert np.array_equal(params["W_head"], res.params["W_head"])
    a = sorted(
        (r["node_id"], r["pred"])
        for r in predict_relational_stack(
            db.tables, db.primary_keys, db.foreign_keys, res,
            seed=42, neighbor_budget=5,
        ).collect()
    )
    b = sorted(
        (r["node_id"], r["pred"])
        for r in predict_relational_stack(
            db.tables, db.primary_keys, db.foreign_keys, params,
            seed=42, neighbor_budget=5,
        ).collect()
    )
    assert a == b


def test_load_stack_model_reads_frame_layout(spark, tmp_path):
    """A model saved with a layer in the former frame layout (manifest
    ``"emb": "frame"``, the table as ``(code, evec)`` parquet under
    ``layer_<i>_emb/``, no npz entry) loads back as the array in code
    order; a gap in its codes raises."""
    import json
    import os

    import numpy as np
    import pytest

    from deep_db_learning_spark.plans.persistence import (
        load_stack_model,
        save_stack_model,
    )

    rng = np.random.default_rng(5)
    emb1 = rng.uniform(-0.5, 0.5, size=(6, 2))
    params = {
        "emb": rng.uniform(-0.5, 0.5, size=(4, 4)),
        "W_head": rng.uniform(-0.5, 0.5, size=(9, 3)),
        "b_head": np.zeros(3),
        "layers": [{"emb": emb1, "W": rng.uniform(size=(7, 4)), "b": np.ones(4)}],
    }
    path = str(tmp_path / "model")
    save_stack_model(params, path)
    loaded = load_stack_model(spark, path)
    assert np.array_equal(loaded["layers"][0]["emb"], emb1)

    def rewrite_as_frame(codes):
        arrays = dict(np.load(os.path.join(path, "arrays.npz")))
        arrays.pop("layer_0_emb", None)
        np.savez(os.path.join(path, "arrays.npz"), **arrays)
        spark.createDataFrame(
            [(c, [float(v) for v in emb1[i]]) for i, c in enumerate(codes)],
            "code bigint, evec array<double>",
        ).repartition(3).write.mode("overwrite").parquet(
            os.path.join(path, "layer_0_emb")
        )
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump({"format": 1, "layers": [{"emb": "frame"}]}, f)

    rewrite_as_frame(range(6))
    loaded = load_stack_model(spark, path)
    assert np.array_equal(loaded["layers"][0]["emb"], emb1)
    assert np.array_equal(loaded["layers"][0]["W"], params["layers"][0]["W"])
    assert np.array_equal(loaded["W_head"], params["W_head"])
    rewrite_as_frame([0, 1, 2, 4, 5, 6])
    with pytest.raises(ValueError, match="codes are not exactly 0..5"):
        load_stack_model(spark, path)


def test_tabnet_full_gradients_match_finite_differences():
    """r9: the full-encoder backward — through every GLU block, every
    sparsemax (support-set projection backward), the prior-decay
    recurrence, and the output projection — against central finite
    differences of the shared forward, coordinate-sampled across every
    parameter block. Absolute tolerance floor because FD truncation
    noise (~1e-10 on an O(1) loss) dwarfs near-zero gradients."""
    import numpy as np

    from deep_db_learning_spark.plans.tabnet_full import (
        tabnet_full_forward,
        tabnet_full_row_grads,
        tabnet_param_specs,
        tabnet_seed_params,
    )

    rng = np.random.default_rng(7)
    in_ch, L, fc, ac, out_ch, k = 10, 2, 4, 4, 6, 3
    X = rng.normal(size=(5, in_ch))
    y = rng.integers(0, k, size=5)
    specs = tabnet_param_specs(in_ch, L, fc, ac, out_ch, k)
    p = tabnet_seed_params(in_ch, L, fc, ac, out_ch, k, 42)
    for name, shape, _b in specs:
        p[name] = p[name] + rng.normal(scale=0.05, size=shape)

    def total_loss():
        fw = tabnet_full_forward(X, p, L, fc, ac)
        lg = fw["logits"] - fw["logits"].max(axis=1, keepdims=True)
        ex = np.exp(lg)
        P = ex / ex.sum(axis=1, keepdims=True)
        return -np.log(P[np.arange(len(y)), y]).sum()

    grads = tabnet_full_row_grads(X, y, p, L, fc, ac, k).sum(axis=0)
    eps = 1e-6
    o = 1
    for name, shape, _b in specs:
        size = int(np.prod(shape))
        g = grads[o:o + size].reshape(shape)
        o += size
        for fi in rng.choice(size, size=min(10, size), replace=False):
            idx = np.unravel_index(fi, shape)
            orig = p[name][idx]
            p[name][idx] = orig + eps
            lp = total_loss()
            p[name][idx] = orig - eps
            lm = total_loss()
            p[name][idx] = orig
            fd = (lp - lm) / (2 * eps)
            assert abs(fd - g[idx]) <= 1e-4 * max(1.0, abs(fd), abs(g[idx])), (
                name, idx, fd, g[idx],
            )


def test_trompt_full_gradients_match_finite_differences():
    """r9: the full Trompt backward — through the mean-pool decode and
    the stacked residual attention layers down to the prompt bank —
    against central finite differences of the shared forward."""
    import numpy as np

    from deep_db_learning_spark.plans.tabnet_full import (
        trompt_full_forward,
        trompt_full_row_grads,
        trompt_param_specs,
        trompt_seed_params,
    )

    rng = np.random.default_rng(11)
    ch, P_, L, k = 6, 3, 2, 4
    m = rng.normal(size=(5, ch))
    y = 2
    specs = trompt_param_specs(ch, P_, L, k)
    p = trompt_seed_params(ch, P_, L, k, 42)
    for name, shape, _b in specs:
        p[name] = p[name] + rng.normal(scale=0.05, size=shape)

    def total_loss():
        _c, _e, logits = trompt_full_forward(m, p, L, P_)
        lg = logits - logits.max()
        ex = np.exp(lg)
        Pr = ex / ex.sum()
        return -np.log(Pr[y])

    g = trompt_full_row_grads(m, y, p, L, P_, k)
    eps = 1e-6
    o = 1
    for name, shape, _b in specs:
        size = int(np.prod(shape))
        gm = g[o:o + size].reshape(shape)
        o += size
        for fi in rng.choice(size, size=min(10, size), replace=False):
            idx = np.unravel_index(fi, shape)
            orig = p[name][idx]
            p[name][idx] = orig + eps
            lp = total_loss()
            p[name][idx] = orig - eps
            lm = total_loss()
            p[name][idx] = orig
            fd = (lp - lm) / (2 * eps)
            assert abs(fd - gm[idx]) <= 1e-4 * max(1.0, abs(fd), abs(gm[idx])), (
                name, idx, fd, gm[idx],
            )


def test_tabnet_full_trains_whole_encoder_through_fit_fn(db):
    """r9 (closing the N22 daylight): EVERY TabNet parameter — all GLU
    feature transformers, all attentive transformers (sparsemax
    backward), the output projection, the head — trains jointly
    in-engine. The independent numpy/decimal twin replays every
    epoch's loss bit-for-bit; the loss descends; iteration 0 equals
    the frozen-encoder head trainer's first data loss (same seeded
    init, same head draw — the l2 terms differ only by the now-trained
    encoder matrices, which the assertion reconstructs)."""
    import numpy as np

    from deep_db_learning_spark.plans.tabnet_full import (
        TABNET_FULL_BENCH_CONFIG,
        l2_term,
        tabnet_param_specs,
        tabnet_seed_params,
        train_tabnet_full,
    )
    from deep_db_learning_spark.plans.tabnet_head import (
        TABNET_HEAD_BENCH_CONFIG,
        train_tabnet_head,
    )
    from deep_db_learning_spark.plans.train_oracle import (
        _tabnet_full_losses,
    )

    res = train_tabnet_full(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TABNET_FULL_BENCH_CONFIG,
    )
    twin = _tabnet_full_losses(
        SF_SMOKE, seed=42, **TABNET_FULL_BENCH_CONFIG
    )
    assert res.losses == twin
    assert len(res.losses) == TABNET_FULL_BENCH_CONFIG["epochs"]
    assert res.losses[-1] < res.losses[0]
    # iteration 0 == the frozen-encoder head trainer: same data loss.
    # Both trajectories' first entries are dataloss/n + 0.5*l2*reg with
    # different reg sets (head: Wh only; full: every weight matrix at
    # its seeded init) — reconstruct and compare the data part exactly.
    head = train_tabnet_head(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TABNET_HEAD_BENCH_CONFIG,
    )
    k = res.params["Wh"].shape[1]
    in_ch = res.params["w_feat0"].shape[0]
    cfg = TABNET_FULL_BENCH_CONFIG
    specs = tabnet_param_specs(
        in_ch, cfg["num_layers"], cfg["feat_channels"],
        cfg["attn_channels"], cfg["out_channels"], k,
    )
    p0 = tabnet_seed_params(
        in_ch, cfg["num_layers"], cfg["feat_channels"],
        cfg["attn_channels"], cfg["out_channels"], k, 42,
    )
    l2 = cfg["l2"]
    full_data0 = res.losses[0] - 0.5 * l2 * l2_term(p0, specs)
    head_data0 = head.losses[0] - 0.5 * l2 * float(
        (p0["Wh"] * p0["Wh"]).sum()
    )
    assert abs(full_data0 - head_data0) < 1e-12
    # the encoder genuinely moved off its seeded init — every block
    for name, _shape, _b in specs:
        assert not np.array_equal(res.params[name], p0[name]), name
    assert "train" in res.accuracy and "test" in res.accuracy


def test_trompt_full_trains_whole_encoder_through_fit_fn(db):
    """r9 N23 mirror: the prompt bank, every attention layer, and the
    head train jointly in-engine; twin bit-equal; loss descends; all
    parameter blocks move."""
    import numpy as np

    from deep_db_learning_spark.plans.tabnet_full import (
        TROMPT_FULL_BENCH_CONFIG,
        train_trompt_full,
        trompt_param_specs,
        trompt_seed_params,
    )
    from deep_db_learning_spark.plans.train_oracle import (
        _trompt_full_losses,
    )

    res = train_trompt_full(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        **TROMPT_FULL_BENCH_CONFIG,
    )
    twin = _trompt_full_losses(
        SF_SMOKE, seed=42, **TROMPT_FULL_BENCH_CONFIG
    )
    assert res.losses == twin
    assert len(res.losses) == TROMPT_FULL_BENCH_CONFIG["epochs"]
    assert res.losses[-1] < res.losses[0]
    k = res.params["Wh"].shape[1]
    cfg = TROMPT_FULL_BENCH_CONFIG
    specs = trompt_param_specs(cfg["ch"], cfg["num_prompts"],
                               cfg["num_layers"], k)
    p0 = trompt_seed_params(cfg["ch"], cfg["num_prompts"],
                            cfg["num_layers"], k, 42)
    for name, _shape, _b in specs:
        assert not np.array_equal(res.params[name], p0[name]), name
    assert "train" in res.accuracy and "test" in res.accuracy


def test_tabnet_full_regression_task(db):
    """r9: the full-encoder TabNet trainer carries the regression task
    (k=1 half-squared-error head on the train-standardized label) —
    twin bit-equal per epoch, loss descends, eval is per-split MSE."""
    from deep_db_learning_spark.plans.tabnet_full import train_tabnet_full
    from deep_db_learning_spark.plans.train_oracle import (
        _tabnet_full_losses,
    )

    cfg = {"epochs": 2, "lr": 0.05, "l2": 1e-4, "out_channels": 8,
           "num_layers": 2, "feat_channels": 8, "attn_channels": 8,
           "neighbor_budget": 5}
    res = train_tabnet_full(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        target=("customer", "c_acctbal"), task="regression", **cfg,
    )
    twin = _tabnet_full_losses(
        SF_SMOKE, seed=42, task="regression", **cfg
    )
    assert res.losses == twin
    assert res.losses[-1] < res.losses[0]
    assert set(res.accuracy) >= {"train", "test"}
    assert all(v >= 0 for v in res.accuracy.values())  # MSEs
    assert res.params["Wh"].shape[1] == 1


def test_trompt_full_regression_task(db):
    """r9: the full Trompt trainer's regression mirror."""
    from deep_db_learning_spark.plans.tabnet_full import train_trompt_full
    from deep_db_learning_spark.plans.train_oracle import (
        _trompt_full_losses,
    )

    cfg = {"epochs": 2, "lr": 0.1, "l2": 1e-4, "ch": 8,
           "num_prompts": 4, "num_layers": 2, "neighbor_budget": 5}
    res = train_trompt_full(
        db.tables, db.primary_keys, db.foreign_keys, seed=42,
        target=("customer", "c_acctbal"), task="regression", **cfg,
    )
    twin = _trompt_full_losses(
        SF_SMOKE, seed=42, task="regression", **cfg
    )
    assert res.losses == twin
    assert res.losses[-1] < res.losses[0]
    assert all(v >= 0 for v in res.accuracy.values())
    assert res.params["Wh"].shape[1] == 1
