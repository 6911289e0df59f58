"""The user-facing experiment CLI (examples/run_experiment.py — the
reference main.py counterpart) drives the whole pipeline."""

import os
import sys

# this checkout's examples, wherever the checkout lives
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "examples")
)


def test_run_experiment_minibatch(spark, tmp_path):
    import run_experiment as rx

    track = str(tmp_path / "run.jsonl")
    args = rx.build_parser().parse_args(
        [
            "--data", "/root/testdata/sf0.001",
            "--mode", "minibatch",
            "--epochs", "1",
            "--neighbor-budget", "5",
            "--track", track,
        ]
    )
    summary = rx.run(spark, args)
    assert summary["mode"] == "minibatch"
    assert 0.0 <= summary["test_accuracy"] <= 1.0
    from deep_db_learning_spark.plans.tracking import load_runs

    events = load_runs(track)
    assert any(e["kind"] == "params" for e in events)
    assert any(e["kind"] == "metrics" for e in events)


def test_run_experiment_slice(spark):
    import run_experiment as rx

    args = rx.build_parser().parse_args(
        ["--data", "/root/testdata/sf0.001", "--mode", "slice"]
    )
    summary = rx.run(spark, args)
    assert summary["mode"] == "slice"
    assert 0.0 <= summary["accuracy"] <= 1.0


def test_run_experiment_stack_regression(spark):
    """The r5 stack mode from the CLI: depth-3 trained stack with the
    regression head on a numeric target."""
    import run_experiment as rx

    args = rx.build_parser().parse_args(
        [
            "--data", "/root/testdata/sf0.001",
            "--mode", "stack",
            "--task", "regression",
            "--target", "customer.c_acctbal",
            "--epochs", "1",
            "--neighbor-budget", "5",
            "--lr", "0.2",
        ]
    )
    summary = rx.run(spark, args)
    assert summary["mode"] == "stack"
    assert summary["train_mse"] >= 0.0
    assert summary["final_train_loss"] > 0.0


def test_incremental_crawl_pipeline(spark, tmp_path):
    """The r6 incremental-crawl composition end-to-end: store dedup →
    frozen-centroid vector append with running stats → drift verdict →
    list-partitioned store on disk."""
    import os

    import incremental_crawl as ic

    out = str(tmp_path / "store")
    args = ic.build_parser().parse_args(
        ["--data", "/root/testdata/sf0.001", "--out", out]
    )
    s = ic.run(spark, args)
    # r10: the quality gate runs first — kept fraction of the arriving
    # batch, every arriving doc accounted for
    assert s["arriving_docs"] == s["quality_dropped"] + s["batch_docs"]
    assert 0 < s["batch_docs"] <= s["arriving_docs"]
    assert s["batch_docs"] == s["kept_after_store_dedup"] + s["dropped_as_store_dupes"]
    assert s["kept_after_store_dedup"] > 0
    assert s["vectors_appended"] <= s["kept_after_store_dedup"]
    assert s["store_size"] >= s["vectors_appended"]
    assert any(
        d.startswith("list_id=") for d in os.listdir(os.path.join(out, "ivf"))
    )
    # r11: the filter lifecycle — the simulated spam wave drifts past
    # the frozen logit cuts, the warm-start retrain bumps the
    # generation, and the gen-1 verdicts actually change (the spam
    # wave stops passing)
    assert s["qf_wave_drifted"] is True and s["qf_wave_psi"] >= 0.25
    assert s["qf_generation"] == 1
    assert s["qf_wave_kept"] < s["qf_wave_kept_gen0"]
    # r7: the retrieval half — appended index serves BM25 hits
    assert s["index_postings"] > 0
    assert 0 < s["bm25_hits"] <= 5
    # r9: the grown index is a versioned snapshot store with retention
    # — two commits, vacuum keep_last=2 keeps both; a re-run would
    # commit v3/v4 and vacuum v1/v2
    assert s["index_versions"] == [1, 2]


def test_dimension_pipeline(spark):
    import dimension_pipeline as dp

    args = dp.build_parser().parse_args(
        ["--data", "/root/testdata/sf0.001", "--batches", "3"]
    )
    out = dp.run(spark, args)
    assert out["events"] == 1000
    assert out["quarantined"] == 0  # synthetic feed is clean
    assert out["history_versions"] > out["open_versions"] > 0
    assert 0 < out["snapshot_rows"] <= out["open_versions"]
    assert out["feature_rows"] == 150  # one per customer
    # id + name + nation + acctbal + segment + te + 5 wide sums
    assert out["feature_cols"] >= 11
    f = out["funnel"]
    assert f["click"] >= f["view"] >= f["purchase"] > 0


def test_dimension_pipeline_store_mode(spark, tmp_path):
    """r9: --store maintains the SCD2 history in the two-area store
    with retention + scheduled compaction, and the result is IDENTICAL
    to the in-memory path (batch-boundary/storage independence)."""
    import dimension_pipeline as dp

    base_args = ["--data", "/root/testdata/sf0.001", "--batches", "3"]
    mem = dp.run(spark, dp.build_parser().parse_args(base_args))
    store_dir = str(tmp_path / "dim_store")
    st = dp.run(
        spark,
        dp.build_parser().parse_args(
            base_args + ["--store", store_dir, "--keep-last", "2"]
        ),
    )
    assert st["store_open_snapshots"] is not None
    assert len(st["store_open_snapshots"]) <= 2  # vacuum held keep_last
    for k in (
        "history_versions", "open_versions", "snapshot_rows",
        "late_changes_dropped", "funnel",
    ):
        assert st[k] == mem[k], k


def test_run_experiment_stack_predict_out(spark, tmp_path):
    import run_experiment as rx

    out = str(tmp_path / "preds")
    s = rx.run(
        spark,
        rx.build_parser().parse_args(
            ["--mode", "stack", "--epochs", "1", "--predict-out", out]
        ),
    )
    assert s["predictions_written"] > 0
    back = spark.read.parquet(out)
    assert {"node_id", "label", "split", "pred"} <= set(back.columns)
    assert back.count() == s["predictions_written"]


def test_run_experiment_stack_save_model(spark, tmp_path):
    import os

    import run_experiment as rx

    path = str(tmp_path / "model")
    s = rx.run(
        spark,
        rx.build_parser().parse_args(
            ["--mode", "stack", "--epochs", "1", "--save-model", path]
        ),
    )
    assert s["model_saved"] == path
    assert os.path.exists(os.path.join(path, "arrays.npz"))
    from deep_db_learning_spark.plans.persistence import load_stack_model

    params = load_stack_model(spark, path)
    assert set(params) == {"emb", "W_head", "b_head", "layers"}


def test_graph_insights_pipeline(spark):
    import graph_insights as gi

    args = gi.build_parser().parse_args(["--data", "/root/testdata/sf0.001"])
    s = gi.run(spark, args)
    assert s["n_edges"] > 0 and s["n_hot_baskets"] == 0
    assert s["n_triangles"] > 0
    assert len(s["top_clustered"]) == 3
    assert 0 < s["core_size"] <= 200
    assert s["n_backbone_rules"] >= 0
    if s["top_rule"] is not None:
        assert s["top_rule"]["lift"] > 0
    assert s["l_partkey_max_skew_factor"] >= 1.0


def test_curate_pretraining_data_pipeline(spark):
    import curate_pretraining_data as cp

    args = cp.build_parser().parse_args(
        ["--data", "/root/testdata/sf0.001"]
    )
    s = cp.run(spark, args)
    f = s["funnel"]
    # the funnel only ever shrinks, and every stage actually ran
    order = ["raw", "quality", "classifier", "exact_dedup", "near_dedup",
             "semdedup", "decontaminated", "dsir_selected", "token_budget"]
    assert list(f) == order
    for a, b in zip(order, order[1:]):
        assert f[b] <= f[a], (a, b, f)
    assert f["raw"] > 0 and f["dsir_selected"] > 0
    # semdedup and dsir really cut something on this corpus
    assert f["semdedup"] < f["near_dedup"]
    assert f["dsir_selected"] < f["decontaminated"]
    # r11: the corpus token budget binds at the default setting and the
    # packed shard respects it
    assert 0 < f["token_budget"] < f["dsir_selected"]
    assert s["max_shard_tokens"] <= args.corpus_token_budget
    assert s["n_shards"] >= 1
    assert 0 < s["kept_fraction"] < 1
    # the DoReMi-shaped mixture: normalized, floored, every source
    assert abs(sum(s["mixture"].values()) - 1.0) < 1e-9
    assert all(w >= 0.01 - 1e-12 for w in s["mixture"].values())
    # r11: the calibration read reports a finite ECE in [0,1] (on this
    # label-signal-free corpus it is large — honestly so)
    assert s["qf_ece"] is not None and 0.0 <= s["qf_ece"] <= 1.0


def test_semantic_index_pipeline(spark):
    """r13 example: corpus -> trained word vectors -> learned document
    embeddings -> recall-audited IVF retrieval -> streaming refit
    parity — the whole learned-embedding family wired end-to-end."""
    import semantic_index as si

    s = si.run(spark, "/root/testdata/sf0.001")
    assert s["vocab"] > 0 and s["pairs"] > 0
    # the descent really learned (50x pin, same as the unit test)
    assert s["loss_first"] > 50 * s["loss_last"]
    assert s["n_embedded"] > 0
    # 3-probe IVF over 8 lists must recover most of the exact top-5
    assert 0.2 <= s["mean_recall_at_5"] <= 1.0
    # the streaming refit is bit-equal to the batch fit
    assert s["streamed_refit_bit_equal"] is True
