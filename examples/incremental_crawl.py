"""Incremental-crawl pipeline — the r6 maintenance surfaces composed
end-to-end, the way a production training-data pipeline runs them:

    arriving batch ──► quality gate (r10: the in-engine LR filter
                       trained store-vs-crawl — "does this look like
                       the curated store?" — keep the top fraction by
                       logit through the threshold-cut selection)
                       (r11: frozen logit cuts PSI-monitor each later
                        wave; on drift the filter warm-start retrains
                        from the deployed weights — a new generation)
              kept ──► cross-corpus dedup against the standing store
                       (minhash_dedup_against: banded signatures join
                        ACROSS corpora, exact-Jaccard verify)
        kept docs ──► their vectors append to the IVF store with the
                      FROZEN centroids (ivf_append + running stats —
                      O(batch), the standing store never re-scans)
            drift ──► per-list verdicts decide whether the next refit
                      pass (ivf_index_deterministic over the grown
                      store) is due
            store ──► persisted partitioned by list_id
                      (save_ivf_store: probes prune FILES, appends
                       land in-place); the grown inverted index
                      commits as a VERSIONED snapshot and superseded
                      versions vacuum in the same pass (r9 —
                      keep_last retention, the at-scale posture)

    python examples/incremental_crawl.py --data /root/testdata/sf0.001 \
        --out /tmp/crawl_store

The doc/vector split here is synthetic (even ids = standing store,
odd ids = the arriving batch); in production the batch is the new
crawl and the store side's banded signature frame + stats frame are
persisted artifacts maintained across batches.
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
    p.add_argument("--out", default=None, help="persist the IVF store here")
    p.add_argument("--n-lists", type=int, default=8)
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument(
        "--keep-last", type=int, default=2,
        help="versioned-index retention: snapshots kept after vacuum",
    )
    p.add_argument(
        "--quality-keep", type=float, default=0.9,
        help="fraction of the arriving batch the quality gate keeps",
    )
    return p


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from deep_db_learning_spark.checkpoint import cut_count
    from deep_db_learning_spark.operators.dedup import minhash_dedup_against
    from deep_db_learning_spark.operators.similarity import (
        ivf_append,
        ivf_append_stats,
        ivf_index_deterministic,
        save_ivf_store,
    )
    from deep_db_learning_spark.sources import load_testdata

    db = load_testdata(spark, args.data)
    docs = db.df("documents")
    emb = db.df("embeddings")

    store_docs = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)
    n_arriving = arriving.count()

    # quality gate at the front door (r10): train the LR filter with
    # the standing store as the positive class ("looks curated") and
    # the arriving crawl as negative, keep the top fraction of the
    # batch by logit — the threshold-cut selection, no global rank
    from deep_db_learning_spark.operators.quality_filter import (
        fit_quality_filter,
        quality_logit_scores,
    )
    from deep_db_learning_spark.operators.selection import (
        topk_threshold_cut,
    )

    qmodel = fit_quality_filter(
        store_docs.withColumn("__y", F.lit(1)).unionByName(
            arriving.withColumn("__y", F.lit(0))
        ),
        "__y",
        n_buckets=256,
    )
    qf_scores = quality_logit_scores(arriving, qmodel)
    passed_q = topk_threshold_cut(
        qf_scores,
        "qf_logit",
        None,
        "doc_id",
        fraction=args.quality_keep,
    ).select("doc_id")
    batch_docs = arriving.join(passed_q, "doc_id", "leftsemi")
    n_batch = batch_docs.count()

    # model lifecycle (r11): freeze equal-frequency logit cuts at
    # deployment, PSI-monitor each later crawl wave against them, and
    # on drift warm-start retrain from the deployed weights — a NEW
    # router generation (new threshold calibration, new output area;
    # scores across generations never mix). The "next wave" here
    # simulates a crawl-distribution shift by spam-suffixing the same
    # documents; in production it is simply the next day's crawl.
    from deep_db_learning_spark.streaming.quantile_hist import (
        cut_drift,
        reference_cuts,
    )

    logit_cuts = reference_cuts(qf_scores, "qf_logit", n_bins=8)
    next_wave = arriving.withColumn(
        "text",
        # a spam-campaign wave: the crawl is suddenly dominated by one
        # template, with only a stub of organic text per page
        F.concat_ws(
            " ",
            F.lit("buy now free crypto moon token airdrop giveaway "
                  "claim bonus click here limited offer"),
            F.substring(F.col("text"), 1, 48),
        ),
    )
    wave_scores = quality_logit_scores(next_wave, qmodel)
    psi, _ = cut_drift(wave_scores, "qf_logit", logit_cuts)
    qf_generation = 0
    wave_kept_gen0 = wave_scores.where(F.col("qf_logit") >= 0.0).count()
    wave_kept = wave_kept_gen0
    if psi >= 0.25:
        # drifted: continue the descent from the deployed weights on
        # the new wave's labels (store = positive, wave = negative)
        qmodel_g1 = fit_quality_filter(
            store_docs.withColumn("__y", F.lit(1)).unionByName(
                next_wave.withColumn("__y", F.lit(0))
            ),
            "__y",
            init=qmodel,
        )
        qf_generation = 1
        wave_kept = (
            quality_logit_scores(next_wave, qmodel_g1)
            .where(F.col("qf_logit") >= 0.0)
            .count()
        )

    # cut and count in one job: kept feeds the vector semi-join, the
    # postings append, the corpus union and the summary counts, and
    # each would otherwise re-sign the store half and re-verify
    kept, n_kept = cut_count(
        minhash_dedup_against(
            batch_docs, store_docs, "text", "doc_id", threshold=args.threshold
        )
    )

    # vector half: the standing store's vectors are the even half; the
    # kept batch docs' vectors append (doc_id keys the embedding here)
    store_vecs = emb.filter(F.col("vec_id") % 2 == 0)
    kept_ids = kept.select(F.col("doc_id").alias("vec_id"))
    batch_vecs = emb.join(kept_ids, "vec_id", "leftsemi")
    assigned, model = ivf_index_deterministic(
        store_vecs, n_lists=args.n_lists, n_iters=3
    )
    stats = ivf_append_stats(assigned, model)
    grown, drift, stats = ivf_append(
        assigned, model, batch_vecs, old_stats=stats, with_stats=True
    )
    n_refit = drift.filter("refit").count()

    if args.out:
        save_ivf_store(grown, os.path.join(args.out, "ivf"))

    # retrieval half (r7): the kept docs' postings append into the
    # standing inverted index — batch-only tokenization, and BM25 over
    # the grown index serves queries with zero corpus scans
    from deep_db_learning_spark.operators.search import (
        bm25_topk_from_index,
        build_postings,
        corpus_token_stats,
        postings_append,
    )

    index = build_postings(store_docs, "text", "doc_id")
    index = postings_append(index, kept, "text", "doc_id")
    grown_docs = store_docs.unionByName(kept)
    n_docs, total_tokens = corpus_token_stats(grown_docs, "text")
    hits = bm25_topk_from_index(
        index, "doc_id", [(0, "hash join spark")], n_docs, total_tokens, k=5
    )

    # retention (r9): at scale the grown index is a VERSIONED store —
    # each crawl batch commits a snapshot (atomic pointer flip) and
    # superseded versions are vacuumed in the same maintenance pass,
    # so disk stays O(live index), never O(history). keep_last=2
    # keeps the previous version for readers in flight.
    index_versions = None
    if args.out:
        from deep_db_learning_spark.streaming.node_store import (
            SnapshotStore,
            vacuum_snapshots,
        )

        idx_store = SnapshotStore(os.path.join(args.out, "index"))
        base_id = (idx_store.last_batch_id() or -1) + 1
        idx_store.commit(
            build_postings(store_docs, "text", "doc_id"), batch_id=base_id
        )
        idx_store.commit(index, batch_id=base_id + 1)
        vacuum_snapshots(idx_store, keep_last=args.keep_last)
        index_versions = idx_store.versions()

    summary = {
        "arriving_docs": n_arriving,
        "quality_dropped": n_arriving - n_batch,
        "batch_docs": n_batch,
        "qf_wave_psi": psi,
        "qf_wave_drifted": psi >= 0.25,
        "qf_generation": qf_generation,
        "qf_wave_kept_gen0": wave_kept_gen0,
        "qf_wave_kept": wave_kept,
        "kept_after_store_dedup": n_kept,
        "dropped_as_store_dupes": n_batch - n_kept,
        "vectors_appended": batch_vecs.count(),
        "store_size": grown.count(),
        "lists_flagging_refit": n_refit,
        "refit_due": n_refit > 0,
        "index_postings": index.count(),
        "bm25_hits": hits.count(),
        "index_versions": index_versions,
    }
    print(json.dumps(summary), flush=True)
    return summary


def main(argv=None) -> dict:
    args = build_parser().parse_args(argv)
    from deep_db_learning_spark.session import make_session

    spark = make_session("incremental_crawl")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return run(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
