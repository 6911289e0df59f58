"""End-to-end experiment CLI — the engine's counterpart of the
reference's ``main.py`` entry point (``main.py:287-333``: pick a
dataset, train a relational model, log metrics).

A reference user runs ``python main.py tpch --epochs E --lr R``; here:

    python examples/run_experiment.py \
        --data /root/testdata/sf0.001 \
        --target customer.c_mktsegment \
        --mode minibatch --epochs 4 --lr 0.5 \
        --track /tmp/run.jsonl

Pipeline (each stage is the library API a user would call directly):
catalog load → semantic-type inference → graph statistics → training
(full-batch GD, minibatch SGD over budgeted per-root subgraphs, the
two-layer / depth-3 stack end-to-end modes, or the MLlib `minimum_slice` decoder
pipeline) → metrics to the JSONL experiment tracker.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--data", default="/root/testdata/sf0.001", help="parquet DB dir")
    p.add_argument(
        "--target",
        default="customer.c_mktsegment",
        help="table.column classification target",
    )
    p.add_argument(
        "--mode",
        choices=(
            "full", "minibatch", "two_layer", "stack", "slice",
            "tabnet", "trompt",
        ),
        default="full",
    )
    p.add_argument(
        "--task", choices=("classification", "regression"), default="classification"
    )
    p.add_argument("--epochs", "-e", type=int, default=8)
    # None -> each trainer's own default (0.5 softmax-CE, 0.2 squared
    # error — the regression objective tolerates a smaller step)
    p.add_argument("--lr", "-r", type=float, default=None)
    p.add_argument("--n-batches", type=int, default=2)
    p.add_argument("--neighbor-budget", type=int, default=None)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--track", default=None, help="JSONL tracker output path")
    p.add_argument(
        "--predict-out",
        default=None,
        help="stack mode: write per-node predictions (parquet) here "
        "via predict_relational_stack",
    )
    p.add_argument(
        "--save-model",
        default=None,
        help="stack mode: persist the trained parameters here "
        "(plans/persistence.py: npz + manifest)",
    )
    return p


def run(spark, args) -> dict:
    """Drive the full pipeline; returns a result summary dict."""
    from deep_db_learning_spark.operators.graph import graph_statistics
    from deep_db_learning_spark.plans.tracking import ExperimentTracker
    from deep_db_learning_spark.profiling import SchemaAnalyzer
    from deep_db_learning_spark.sources import load_testdata

    table, column = args.target.split(".", 1)
    db = load_testdata(spark, args.data)

    schema = SchemaAnalyzer(db.tables, db.primary_keys, db.foreign_keys).guess_schema()
    spec = schema.tables[table].columns[column]
    print(f"inferred target type: {table}.{column} -> {spec.type}", flush=True)

    gs = graph_statistics(db.tables, db.primary_keys, db.foreign_keys).collect()
    print(
        f"graph: {len(gs)} edge types, {sum(r['n_edges'] for r in gs)} edges",
        flush=True,
    )

    if args.mode == "slice":
        from deep_db_learning_spark.plans import minimum_slice

        res = minimum_slice(
            db.tables,
            db.primary_keys,
            db.foreign_keys,
            target=(table, column),
            depth=1,
            seed=args.seed,
            task=args.task,
        )
        summary = {"mode": "slice", **res.metrics}
        losses = []
    else:
        from deep_db_learning_spark.plans.training import (
            train_relational_classifier,
            train_relational_minibatch,
            train_relational_regressor,
            train_relational_two_layer,
        )

        lr_kw = {} if args.lr is None else {"lr": args.lr}
        if args.mode in ("tabnet", "trompt"):
            # frozen seeded encoder + in-engine decimal-fold head GD
            # over the assembled root frame (r6); both
            # tasks — regression swaps in the k=1 half-squared-error
            # head on the train-standardized label
            from deep_db_learning_spark.plans.tabnet_head import (
                train_tabnet_head,
                train_trompt_head,
            )

            fn = train_tabnet_head if args.mode == "tabnet" else train_trompt_head
            res = fn(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                target=(table, column),
                epochs=args.epochs,
                seed=args.seed,
                neighbor_budget=args.neighbor_budget,
                task=args.task,
                **lr_kw,
            )
        elif args.task == "regression" and args.mode in ("full", "minibatch"):
            if args.mode != "full":
                raise SystemExit(
                    "--task regression supports --mode full, two_layer, "
                    "stack, or slice"
                )
            res = train_relational_regressor(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                target=(table, column),
                epochs=args.epochs,
                seed=args.seed,
                **lr_kw,
            )
        elif args.mode == "two_layer":
            res = train_relational_two_layer(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                target=(table, column),
                epochs=args.epochs,
                n_batches=args.n_batches,
                seed=args.seed,
                neighbor_budget=args.neighbor_budget,
                task=args.task,
                **lr_kw,
            )
        elif args.mode == "stack":
            # depth-3 customer<-orders<-lineitem: every level trained
            from deep_db_learning_spark.plans.stack import (
                THREE_LAYER_SPECS,
                train_relational_stack,
            )

            res = train_relational_stack(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                layers=THREE_LAYER_SPECS,
                target=(table, column),
                epochs=args.epochs,
                n_batches=args.n_batches,
                seed=args.seed,
                neighbor_budget=args.neighbor_budget,
                task=args.task,
                **lr_kw,
            )
        elif args.mode == "full":
            res = train_relational_classifier(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                target=(table, column),
                epochs=args.epochs,
                seed=args.seed,
                **lr_kw,
            )
        else:
            res = train_relational_minibatch(
                db.tables,
                db.primary_keys,
                db.foreign_keys,
                target=(table, column),
                epochs=args.epochs,
                n_batches=args.n_batches,
                seed=args.seed,
                neighbor_budget=args.neighbor_budget,
                **lr_kw,
            )
        losses = res.losses
        metric = "mse" if args.task == "regression" else "accuracy"
        summary = {
            "mode": args.mode,
            "final_train_loss": res.losses[-1],
            **{f"{k}_{metric}": v for k, v in res.accuracy.items()},
        }
        if args.save_model and args.mode == "stack":
            from deep_db_learning_spark.plans.persistence import save_stack_model

            save_stack_model(res, args.save_model)
            summary["model_saved"] = args.save_model
        if args.predict_out and args.mode == "stack":
            from deep_db_learning_spark.plans.stack import (
                THREE_LAYER_SPECS,
                predict_relational_stack,
            )

            preds = predict_relational_stack(
                db.tables, db.primary_keys, db.foreign_keys, res,
                layers=THREE_LAYER_SPECS, target=(table, column),
                seed=args.seed, neighbor_budget=args.neighbor_budget,
                task=args.task,
            )
            preds.write.mode("overwrite").parquet(args.predict_out)
            summary["predictions_written"] = preds.count()

    if args.track:
        with ExperimentTracker(args.track) as tr:
            tr.log_params(vars(args))
            for i, loss in enumerate(losses):
                tr.log_metrics({"train_loss": loss}, step=i)
            tr.log_metrics({k: v for k, v in summary.items() if isinstance(v, float)})
    print(f"result: {summary}", flush=True)
    return summary


def main(argv=None) -> dict:
    args = build_parser().parse_args(argv)
    from deep_db_learning_spark.session import make_session

    spark = make_session("run-experiment")
    try:
        return run(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
