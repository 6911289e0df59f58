"""End-to-end relational-learning pipeline — the engine's equivalent of
the reference's main entry path (SURVEY §3 EP1/EP2, §7 "minimum slice"):

    profile → infer schema → build graph → message-passing features →
    encode target → split → fit MLlib model → metrics

mirroring ``CTUDataset`` → ``build_hetero_data`` → ``BlueprintModel``
(``experiments/blueprint_mlflow.py``) with the learned part delegated
to MLlib (BASELINE.json: "Spark DataFrame + MLlib for relational GNN
training"). Every stage is a DataFrame→DataFrame pass, so the whole
plan stays declarative until `.fit`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.encode import dict_encode, factorize_target
from ..operators.graph import HeteroGraph, build_hetero_graph
from ..operators.message_passing import aggregate_neighbors
from ..operators.sampling import random_node_split
from ..checkpoint import cut_lineage
from ..profiling.analyzer import SchemaAnalyzer
from ..schema import DBSchema
from .metrics import classification_metrics, regression_metrics


@dataclass
class SliceResult:
    schema: DBSchema
    graph: HeteroGraph
    features: DataFrame
    metrics: dict = field(default_factory=dict)


def build_node_features(
    graph: HeteroGraph,
    schema: DBSchema,
    table: str,
    depth: int = 1,
    aggs: tuple[str, ...] = ("mean", "sum", "min", "max"),
    exclude: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """One (or more) message-passing layers of neighbor statistics onto
    ``table``'s nodes: for each edge type pointing at ``table``, the
    numeric feature columns of the source table are aggregated per dst.

    depth=2 first aggregates grand-neighbor numerics onto neighbors,
    then aggregates those aggregates — the relational form of a 2-layer
    GNN receptive field.

    ``exclude``: (table, column) pairs never used as features. A
    numeric TARGET must be listed — at depth ≥ 2 with reverse edges its
    value would otherwise round-trip (target → neighbor → target) back
    into the feature set and leak the label."""
    feats: dict[str, DataFrame] = {}
    num_cols: dict[str, list[str]] = {}
    banned = set(exclude)
    for t, nodes in graph.nodes.items():
        cols = [
            c
            for c, spec in schema[t].columns.items()
            if spec.type == "num" and c in nodes.columns and (t, c) not in banned
        ]
        num_cols[t] = cols
        feats[t] = nodes

    def layer(base: DataFrame, target: str) -> tuple[DataFrame, list[str]]:
        """Left-join every edge's 1-hop aggregates onto ``base`` (one
        row per ``target`` node); returns the zero-filled frame and the
        added columns."""
        out, added = base, []
        for et, edges in graph.edges.items():
            src_t, dst_t = graph.edge_meta[et]
            if dst_t != target or et.startswith("self_"):
                continue
            cols = num_cols.get(src_t, [])
            if not cols:
                continue
            agg = graph.aggregate_along_edge(
                et, cols, list(aggs), prefix=f"{et}__", features=feats[src_t]
            ).withColumnRenamed("dst", "node_id")
            out = out.join(agg, "node_id", "left")
            added += [c for c in agg.columns if c != "node_id"]
        return out.na.fill(0.0), added

    if depth >= 2:
        # refresh neighbor tables with their own 1-hop aggregates first,
        # joined straight onto the table's features
        for t in list(graph.nodes):
            if t == table:
                continue
            refreshed, agg_cols = layer(feats[t], t)
            if agg_cols:
                feats[t] = refreshed
                num_cols[t] = num_cols[t] + agg_cols
    return layer(graph.nodes[table].select("node_id"), table)[0]


def minimum_slice(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, list[str]],
    foreign_keys: dict[str, list],
    target: tuple[str, str],
    depth: int = 1,
    seed: int = 42,
    fit_model: bool = True,
    decoder: str = "logreg",
    tracker=None,
    task: str = "classification",
) -> SliceResult:
    """SURVEY §7: predict ``target`` from neighbor statistics.

    Classification path (cat target): factorize → ``decoder`` model —
    ``"logreg"`` (default) or ``"mlp"`` (N21's Linear/ReLU decoder
    stack as MLlib ``MultilayerPerceptronClassifier``,
    ``experiments/blueprint_instances/utils.py:84-106``). Regression
    path (``task="regression"``, num target — the reference's
    ``TaskType.REGRESSION``/``MSELoss`` branch,
    ``nn/lightning/lightning_wrapper.py:40,50-55``): double label →
    MLlib ``LinearRegression`` → mse/mae/nrmse. Everything
    before `.fit` is one declarative plan; the feature table is the
    persisted artifact a real training loop would checkpoint."""
    target_table, target_col = target
    analyzer = SchemaAnalyzer(
        tables,
        primary_keys,
        foreign_keys,
        target=target,
        target_type="num" if task == "regression" else "cat",
    )
    schema = analyzer.guess_schema()
    graph = build_hetero_graph(tables, primary_keys, foreign_keys)

    features = build_node_features(
        graph,
        schema,
        target_table,
        depth=depth,
        # leakage guard: the target column must never be a feature —
        # at depth>=2 reverse edges would carry it back around
        exclude=((target_table, target_col),),
    )
    feature_cols = [c for c in features.columns if c != "node_id"]

    if task == "regression":
        labeled = (
            graph.nodes[target_table]
            .select("node_id", F.col(target_col).cast("double").alias("label"))
            .filter(F.col("label").isNotNull())
        )
    else:
        labeled = factorize_target(
            graph.nodes[target_table].select("node_id", target_col), target_col
        ).select("node_id", "label")
    data = features.join(labeled, "node_id", "inner")
    data = random_node_split(data, fractions=(0.7, 0.0, 0.3), seed=seed)

    result = SliceResult(schema=schema, graph=graph, features=data)
    if not fit_model:
        return result

    # the feature lineage (profile + joins + aggs) would otherwise be
    # recomputed by the train assembly, the test assembly, and the
    # metrics job — materialize it once (the checkpoint a real training
    # loop would write to Parquet, S9). Coalesce first: the label-joined
    # frame is target-table-sized, and each optimizer iteration is a
    # treeAggregate over its partitions — near-empty tasks × iterations
    # is pure scheduler latency. Size partitions to hold ~50k rows each
    # (bounded by the cluster's parallelism): 15k customers fit one
    # task; 10M would fan out to ~200.
    sc = features.sparkSession.sparkContext
    n_target = tables[target_table].count()
    parts = max(1, min(sc.defaultParallelism, n_target // 50_000 + 1))
    # cut_lineage, not persist: the frame is returned in SliceResult
    # (the checkpoint artifact) — no unpersist moment; localCheckpoint
    # blocks are GC-reclaimed when the result is dropped (cluster
    # posture: reliable checkpoint files need cleanCheckpoints on —
    # see checkpoint.py)
    data = cut_lineage(data.coalesce(parts), eager=True)

    from pyspark.ml.classification import (
        LogisticRegression,
        MultilayerPerceptronClassifier,
    )
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="fvec")
    train = assembler.transform(data.filter(F.col("split") == "train"))
    test = assembler.transform(data.filter(F.col("split") == "test"))
    if task == "regression":
        from pyspark.ml.regression import LinearRegression

        est = LinearRegression(featuresCol="fvec", labelCol="label", maxIter=20)
        model = est.fit(train)
        result.metrics = regression_metrics(model.transform(test))
        if tracker is not None:
            tracker.log_params(
                {"target": f"{target_table}.{target_col}", "depth": depth,
                 "task": task, "seed": seed, "n_features": len(feature_cols)}
            )
            tracker.log_metrics(result.metrics)
        return result
    if decoder == "mlp":
        n_classes = data.agg(F.max("label")).collect()[0][0] + 1
        est = MultilayerPerceptronClassifier(
            featuresCol="fvec",
            labelCol="label",
            layers=[len(feature_cols), 2 * len(feature_cols), int(n_classes)],
            maxIter=40,
            seed=seed,
        )
    else:
        est = LogisticRegression(featuresCol="fvec", labelCol="label", maxIter=20)
    model = est.fit(train)
    pred = model.transform(test)
    result.metrics = classification_metrics(pred)
    if tracker is not None:
        # N25: the reference's callback boundary — params + final metrics
        tracker.log_params(
            {"target": f"{target_table}.{target_col}", "depth": depth,
             "decoder": decoder, "seed": seed, "n_features": len(feature_cols)}
        )
        tracker.log_metrics(result.metrics)
    return result
