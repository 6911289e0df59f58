"""Pretraining-data curation pipeline — the LLM data-prep operators
composed the way a data team actually sequences them, raw corpus →
selected, deduplicated, decontaminated, packed shards:

    documents ──► quality gate (composite quality score + LM
                  perplexity band — the CCNet recipe)
              ──► trained quality classifier (r10: the in-engine LR
                  filter over hashed n-grams, GPT-3's discriminative
                  stage — drop the lowest-logit tail)
              ──► exact + MinHash-LSH dedup (drop exact clones, then
                  near-duplicate clusters keep their min-id member)
              ──► SemDeDup over the embeddings table (paraphrase-level
                  duplicates exact n-gram methods miss)
              ──► decontamination (13-gram overlap vs the eval split)
              ──► DSIR importance selection toward the src0 target
                  domain (hashed n-gram log-likelihood-ratio scores,
                  deterministic top fraction through the scale-safe
                  threshold cut)
              ──► corpus TOKEN budget (r11: budget_threshold_cut —
                  keep the best-scored docs until the token budget is
                  spent; exact decimal cumulative weights, zero-window
                  plan)
              ──► token-budget shard packing (two-phase prefix sum)

The classifier stage also reports its calibration (r11: min-max
logits → ECE over equal-frequency bins) — large on this synthetic
corpus, whose labels carry no textual signal.

    python examples/curate_pretraining_data.py --data /root/testdata/sf0.001

Every stage is the operator the driver already hash-checks; the
example wires them end-to-end and reports the funnel (how many
documents each stage removed — the number a curation run actually
reviews). Prints one JSON summary line; returns the dict from ``run``
for tests.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--data", default="/root/testdata/sf0.001")
    p.add_argument("--quality-min", type=float, default=0.3)
    p.add_argument("--target-source", default="src0")
    p.add_argument("--classifier-keep", type=float, default=0.9,
                   help="fraction the trained LR quality filter keeps")
    p.add_argument("--keep-fraction", type=float, default=0.5,
                   help="fraction of surviving docs DSIR keeps")
    p.add_argument("--shard-budget", type=int, default=20_000,
                   help="token budget per packed shard")
    p.add_argument("--corpus-token-budget", type=int, default=4_000,
                   help="total token budget for the curated corpus "
                        "(0 disables the budgeted cut)")
    return p


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from deep_db_learning_spark.checkpoint import cut_count
    from deep_db_learning_spark.functions.text import (
        contamination_matches,
        quality_score,
    )
    from deep_db_learning_spark.operators.dedup import (
        exact_dedup_keep_rows,
        minhash_lsh_dedup,
    )
    from deep_db_learning_spark.operators.dsir import (
        dsir_scores,
        fit_dsir_weights,
        select_top_k,
    )
    from deep_db_learning_spark.operators.mixing import pack_shards
    from deep_db_learning_spark.operators.semdedup import semantic_dedup
    from deep_db_learning_spark.sources import load_testdata

    db = load_testdata(spark, args.data)
    docs = db.df("documents").where(F.col("text").isNotNull())
    funnel = {"raw": docs.count()}

    # 1. quality gate
    docs = docs.where(quality_score(F.col("text")) >= args.quality_min)
    funnel["quality"] = docs.count()

    # 1b. trained quality classifier: fit the LR filter against the
    # target-domain label, keep the top --classifier-keep fraction by
    # logit (the threshold-cut selection — no global rank anywhere)
    from deep_db_learning_spark.operators.quality_filter import (
        fit_quality_filter,
        quality_logit_scores,
    )

    # sampled fit — the corpus-scale practice: the descent runs on a
    # bounded deterministic per-class sample (md5 keys through the
    # threshold cut), only the scoring fold below touches every row
    qmodel = fit_quality_filter(
        docs.withColumn(
            "__y", (F.col("source") == args.target_source).cast("int")
        ),
        "__y",
        sample_n=512,
    )
    qf_scores = quality_logit_scores(docs, qmodel)
    kq = max(1, int(funnel["quality"] * args.classifier_keep))
    kept_q = select_top_k(
        qf_scores.withColumnRenamed("qf_logit", "score"), kq
    )
    docs = docs.join(kept_q.select("doc_id"), "doc_id", "leftsemi")
    funnel["classifier"] = docs.count()

    # quality-aware domain mixture (the DoReMi-shaped reweight): tilt
    # the natural source proportions by per-domain excess logit —
    # reported for the downstream sampler/mixer
    from deep_db_learning_spark.operators.mixing import domain_weights

    mixture = {
        r["source"]: r["weight"]
        for r in domain_weights(
            qf_scores.join(docs.select("doc_id", "source"), "doc_id"),
            "source",
            "qf_logit",
            eta=1.0,
            floor=0.01,
        ).collect()
    }

    # calibration read of the trained filter (r11): min-max the logits
    # to a [0,1] "probability" and score ECE against the target label —
    # the number that says whether the keep-threshold can be read as a
    # confidence at all
    from deep_db_learning_spark.plans.metrics import (
        expected_calibration_error,
    )

    lo, hi = qf_scores.agg(F.min("qf_logit"), F.max("qf_logit")).first()
    qf_ece = None
    if lo is not None and hi is not None and hi > lo:
        prob = qf_scores.join(
            db.df("documents").select(
                "doc_id",
                (F.col("source") == args.target_source).cast("int").alias(
                    "y"
                ),
            ),
            "doc_id",
        ).select(
            (
                (F.col("qf_logit") - F.lit(float(lo)))
                / F.lit(float(hi - lo))
            ).alias("p"),
            "y",
        )
        qf_ece = expected_calibration_error(prob, "p", "y", n_bins=8)

    # 2. exact + near dedup (near-duplicate clusters keep min doc_id)
    docs = exact_dedup_keep_rows(docs, "text", "doc_id")
    funnel["exact_dedup"] = docs.count()
    kept = minhash_lsh_dedup(docs, "text", "doc_id")
    # cut and count in one job: the survivors feed every later stage,
    # and each would otherwise re-run the verify join and the stages
    # above it
    docs, funnel["near_dedup"] = cut_count(
        docs.join(kept.select("doc_id"), "doc_id", "leftsemi")
    )

    # 3. SemDeDup on the embedding table (vec_id keys documents 1:1 in
    # the synthetic corpus; a production run joins on its own id map)
    sd = semantic_dedup(db.df("embeddings"), threshold=0.38)
    sem_dupes = sd.where(F.col("dup_of").isNotNull()).select(
        F.col("vec_id").alias("doc_id")
    )
    docs = docs.join(sem_dupes, "doc_id", "left_anti")
    funnel["semdedup"] = docs.count()

    # 4. decontamination against the eval split (doc_id < 50)
    contaminated = contamination_matches(
        docs.filter(F.col("doc_id") >= 50),
        db.df("documents").filter(F.col("doc_id") < 50),
        n=13,
    ).select("doc_id")
    docs = docs.filter(F.col("doc_id") >= 50).join(
        contaminated, "doc_id", "left_anti"
    )
    funnel["decontaminated"] = docs.count()

    # 5. DSIR selection toward the target domain
    lam = fit_dsir_weights(
        docs.where(F.col("source") == args.target_source), docs,
        n_buckets=1024,
    )
    k = max(1, int(funnel["decontaminated"] * args.keep_fraction))
    selected = select_top_k(dsir_scores(docs, lam), k)
    docs = docs.join(selected.select("doc_id"), "doc_id", "leftsemi")
    funnel["dsir_selected"] = docs.count()

    # 5b. corpus token budget (r11): real curation budgets are in
    # TOKENS, not documents — keep the best DSIR-scored docs until the
    # budget is spent (`budget_threshold_cut`: exact decimal
    # cumulative weights, zero-window plan)
    if args.corpus_token_budget:
        from deep_db_learning_spark.operators.selection import (
            budget_threshold_cut,
        )

        weighted = dsir_scores(docs, lam).join(
            docs.select(
                "doc_id",
                F.size(F.split(F.trim(F.col("text")), r"\s+")).alias(
                    "n_tokens"
                ),
            ),
            "doc_id",
        )
        chosen = budget_threshold_cut(
            weighted, "score", "n_tokens",
            args.corpus_token_budget, "doc_id",
        )
        docs = docs.join(chosen.select("doc_id"), "doc_id", "leftsemi")
        funnel["token_budget"] = docs.count()

    # 6. shard packing by token budget
    packed = pack_shards(
        docs.withColumn(
            "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
        ),
        "n_tokens", budget=args.shard_budget, order_col="doc_id",
    )
    n_shards = packed.select("shard_id").distinct().count()
    per_shard = packed.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("tok")
    )
    max_shard_tokens = per_shard.agg(F.max("tok")).first()[0]

    return {
        "funnel": funnel,
        "n_shards": int(n_shards),
        "max_shard_tokens": int(max_shard_tokens),
        # last funnel stage: the token budget (5b) shrinks the corpus
        # AFTER dsir_selected whenever it binds
        "kept_fraction": funnel.get("token_budget", funnel["dsir_selected"])
        / funnel["raw"],
        "mixture": mixture,
        "qf_ece": qf_ece,
    }


def main() -> None:
    from deep_db_learning_spark.session import make_session

    args = build_parser().parse_args()
    spark = make_session("curate-pretraining-data")
    out = run(spark, args)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
