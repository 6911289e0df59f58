"""Incremental maintenance of the word-embedding corpus statistics —
the streaming half of ``operators/word_embedding.py`` (r13).

GloVe's decomposition makes the trained text embedding INCREMENTALLY
maintainable for free: the model is a function of the co-occurrence
matrix alone, and co-occurrence/unigram counts are associative exact
integers — the same incremental-view-maintenance shape as the node
store (count/sum deltas, full-outer merge). So a document stream
(crawl batches, ingestion micro-batches) keeps the COUNTS current in
a :class:`~.node_store.SnapshotStore`, and :func:`refit_from_store`
re-runs the deterministic descent from the merged counts whenever a
fresh model is wanted — bit-equal to a batch fit over the
concatenated corpus, because the counts are a function of the
document multiset alone (pinned in tests/test_word_embedding.py::
test_streamed_counts_refit_bit_equals_batch_fit).

Store layout: ONE frame ``(kind, a, b, n)`` — ``kind='uni'`` rows
carry token totals (``b`` NULL), ``kind='pair'`` rows the directed
adjacent-pair counts (``kind='pair{d}'`` for distance-``d`` counts
when a co-occurrence window > 1 is maintained). One store, one
snapshot lineage, one writer (the single-writer fence of r13/r14
applies).

**Per-batch cost (r14, VERDICT r13 task 7).** The plain mode rewrites
the full merged snapshot every micro-batch; the snapshot is
distinct-bigram-sized — it grows with the corpus, so N batches cost
O(N × snapshot): super-linear in total documents (measured in the
100× probe recorded in BASELINE.md, "Round-14 100×-docs probe:
streaming co-occurrence maintenance"). ``compact_every=K``
switches to LSM-style maintenance: each batch appends only its OWN
delta (atomic directory rename; idempotent because the delta path is
a pure function of the batch id, so a replay overwrites the identical
file), and every K batches the writer compacts base ∪ deltas into a
new snapshot and retires the staged files. Per-batch cost becomes
delta-sized with the snapshot-sized merge amortized over K; readers
use :func:`read_counts` (merge-on-read: base ∪ live deltas, one
groupBy — counts are associative so the result is independent of the
compaction schedule, pinned in tests). On an object store the
directory rename needs a manifest commit — the same swap-for-Delta
note as the snapshot store itself.

100 TB posture: per micro-batch the corpus delta is touched by ONE
tokenization scan + two groupBys; the refit reads only the
(vocabulary-bounded) counts. Exactly-once via the store's atomic
``batch_id`` cursor, extended to staged deltas by the
path-is-a-function-of-batch-id rule.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from .node_store import SnapshotStore, vacuum_snapshots

_DELTA_DIR = "_deltas"
_DELTA_RE = re.compile(r"^delta_b(\d+)\.parquet$")


def cooc_delta(
    batch: DataFrame, text_col: str = "text", window: int = 1
) -> DataFrame:
    """Associative count delta of one document micro-batch:
    ``(kind, a, b, n)`` — unigram totals + directed pair counts, both
    exact BIGINTs from the shared tokenization
    (``word_embedding._tokens_col`` / ``_pairs_df``). ``window > 1``
    adds distance-``d`` rows under ``kind='pair{d}'`` (``'pair'``
    stays the distance-1 tag, so window-1 stores are byte-compatible
    with r13)."""
    from ..operators.word_embedding import (
        _pairs_d_df,
        _pairs_df,
        _tokens_col,
    )

    uni = (
        batch.select(F.explode(_tokens_col(text_col)).alias("a"))
        .filter(F.col("a") != "")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("uni").alias("kind"),
            "a",
            F.lit(None).cast("string").alias("b"),
            "n",
        )
    )
    if window == 1:
        pair = (
            _pairs_df(batch, text_col)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("pair").alias("kind"), "a", "b", "n")
        )
        return uni.unionByName(pair)
    pair = (
        _pairs_d_df(batch, text_col, window)
        .groupBy("a", "b", "d")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.when(F.col("d") == 1, F.lit("pair"))
            .otherwise(F.concat(F.lit("pair"), F.col("d")))
            .alias("kind"),
            "a",
            "b",
            "n",
        )
    )
    return uni.unionByName(pair)


def merge_cooc(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Merge two count frames by key addition. Pure integer addition —
    the merged frame is a function of the document multiset alone
    (batch-boundary independent), which is what makes the refit
    bit-equal to the batch fit."""
    if old is None:
        return delta
    return (
        old.unionByName(delta)
        .groupBy("kind", "a", "b")
        .agg(F.sum("n").alias("n"))
    )


def _staged_deltas(store_path: str) -> list:
    """``(batch_id, path)`` of staged delta files, batch-id ascending."""
    d = os.path.join(store_path, _DELTA_DIR)
    out = []
    if os.path.isdir(d):
        for name in os.listdir(d):
            m = _DELTA_RE.match(name)
            if m:
                out.append((int(m.group(1)), os.path.join(d, name)))
    return sorted(out)


def last_cooc_batch_id(store: SnapshotStore) -> int | None:
    """The exactly-once cursor over BOTH commit forms: the base
    snapshot's atomic batch cursor and any staged (newer) delta —
    a staged delta's presence is its commit record, because its path
    is a pure function of the batch id (a replay overwrites the
    identical file, so observing it means the batch reached the
    store)."""
    cur = store.last_batch_id()
    staged = [bid for bid, _ in _staged_deltas(store.path)]
    if staged:
        top = max(staged)
        return top if cur is None else max(cur, top)
    return cur


def read_counts(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Merge-on-read view of the co-occurrence counts: base snapshot
    ∪ staged deltas NEWER than the base cursor (older staged files are
    compaction leftovers, already folded into the base), one
    ``groupBy`` sum. Equal to the eagerly-merged snapshot for any
    compaction schedule — integer addition is associative — which is
    what keeps the refit bit-equal to the batch fit (pinned)."""
    store = SnapshotStore(store_path)
    base = store.read(spark)
    cur = store.last_batch_id()
    frames = [] if base is None else [base]
    for bid, path in _staged_deltas(store_path):
        if cur is None or bid > cur:
            frames.append(spark.read.parquet(path))
    if not frames:
        return None
    if len(frames) == 1:
        return frames[0]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.groupBy("kind", "a", "b").agg(F.sum("n").alias("n"))


def apply_cooc_batch(
    spark: SparkSession,
    store: SnapshotStore,
    batch_df: DataFrame,
    batch_id: int,
    *,
    text_col: str = "text",
    window: int = 1,
    compact_every: int | None = None,
    keep_last: int | None = None,
) -> None:
    """One maintenance step — the ``foreachBatch`` body, factored out
    so a batch loop outside a stream (e.g. a scale probe) drives the
    EXACT production path. Idempotent per ``batch_id`` in both
    modes."""
    last = (
        last_cooc_batch_id(store)
        if compact_every is not None
        else store.last_batch_id()
    )
    if last is not None and batch_id <= last:
        return  # replay of an already-committed batch
    delta = cooc_delta(batch_df, text_col, window=window)
    if compact_every is None:
        old = store.read(spark)
        merged = cut_lineage(merge_cooc(old, delta), eager=True)
        store.commit(merged, batch_id=batch_id)
    else:
        ddir = os.path.join(store.path, _DELTA_DIR)
        os.makedirs(ddir, exist_ok=True)
        tmp = os.path.join(ddir, f".tmp_b{batch_id:012d}")
        final = os.path.join(ddir, f"delta_b{batch_id:012d}.parquet")
        delta.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(final):
            shutil.rmtree(final)  # torn replay leftover
        os.rename(tmp, final)  # atomic: the delta IS now committed
        cur = store.last_batch_id()
        live = [
            (bid, p)
            for bid, p in _staged_deltas(store.path)
            if cur is None or bid > cur
        ]
        if len(live) >= compact_every:
            merged = cut_lineage(read_counts(spark, store.path), eager=True)
            store.commit(merged, batch_id=batch_id)
            # retire EVERY staged file at or below the new cursor
            # (including pre-crash leftovers of an interrupted
            # earlier compaction — they are ignored by readers but
            # cost directory listings)
            for bid, p in _staged_deltas(store.path):
                if bid <= batch_id:
                    shutil.rmtree(p, ignore_errors=True)
    if keep_last is not None:
        vacuum_snapshots(store, keep_last=keep_last)


def stream_docs_into_cooc_store(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    query_name: str = "cooc_store_upsert",
    keep_last: int | None = None,
    window: int = 1,
    compact_every: int | None = None,
):
    """Maintain the co-occurrence store from a document stream via
    ``foreachBatch`` — exactly-once batch cursor, lineage cut before
    any overwrite, optional retention inside the single writer.

    ``compact_every=None`` (default): the r13 behavior — every batch
    commits the full merged snapshot (per-batch cost grows with the
    snapshot; fine for bounded vocab streams). ``compact_every=K``:
    LSM maintenance — each batch stages only its own delta (atomic
    dir rename, path keyed by batch id → idempotent replay), and the
    K-th staged delta triggers a compaction commit through the fenced
    snapshot store; per-batch cost is delta-bounded with the
    snapshot-sized merge amortized over K (the 100× probe's fix,
    see module docstring)."""
    store = SnapshotStore(store_path)
    spark = docs_stream.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_cooc_batch(
            spark,
            store,
            batch_df,
            batch_id,
            text_col=text_col,
            window=window,
            compact_every=compact_every,
            keep_last=keep_last,
        )

    return (
        docs_stream.writeStream.foreachBatch(upsert)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def counts_from_store(
    spark: SparkSession, store: SnapshotStore, vocab_size: int, window: int = 1
) -> tuple[list, dict]:
    """(vocab, distance-tagged pair counts ``{(a, b, d): n}``) through
    the merge-on-read view (:func:`read_counts` — identical to the
    merged snapshot when no deltas are staged) — the same bounded
    collects the batch fit performs (top-V vocab by
    ``(count DESC, token ASC)``; ≤V²·window pair rows)."""
    from ..operators.word_embedding import check_vocab_size

    check_vocab_size(vocab_size)
    snap = read_counts(spark, store.path)
    if snap is None:
        raise ValueError(f"co-occurrence store {store.path} is empty")
    vocab_rows = (
        snap.filter(F.col("kind") == "uni")
        .orderBy(F.desc("n"), F.asc("a"))
        .limit(vocab_size)
        .collect()
    )
    vocab = sorted(r["a"] for r in vocab_rows)
    kinds = ["pair"] + [f"pair{d}" for d in range(2, window + 1)]
    pair_rows = (
        snap.filter(
            F.col("kind").isin(kinds)
            & F.col("a").isin(vocab)
            & F.col("b").isin(vocab)
        )
        .collect()
    )
    counts = {}
    for r in pair_rows:
        d = 1 if r["kind"] == "pair" else int(r["kind"][4:])
        counts[(r["a"], r["b"], d)] = r["n"]
    return vocab, counts


def refit_from_store(
    spark: SparkSession,
    store_path: str,
    *,
    dim: int | None = None,
    vocab_size: int | None = None,
    epochs: int | None = None,
    lr: float | None = None,
    window: int = 1,
):
    """Re-run the deterministic descent from the CURRENT merged counts
    — bit-equal to ``fit_word_embedding(window=window)`` over the
    concatenated corpus (same counts → same targets → same
    trajectory), for any compaction schedule. ``window`` must not
    exceed the window the store was maintained with (missing distance
    kinds would silently drop co-occurrence — the store carries
    ``pair{d}`` rows only for maintained distances)."""
    from ..operators.word_embedding import (
        WE_CONFIG,
        _descend_targets,
        _pair_target,
    )

    dim = WE_CONFIG["dim"] if dim is None else dim
    vocab_size = (
        WE_CONFIG["vocab_size"] if vocab_size is None else vocab_size
    )
    epochs = WE_CONFIG["epochs"] if epochs is None else epochs
    lr = WE_CONFIG["lr"] if lr is None else lr
    store = SnapshotStore(store_path)
    vocab, counts = counts_from_store(spark, store, vocab_size, window=window)
    by_pair: dict = {}
    for (a, b, d), n in counts.items():
        by_pair.setdefault((a, b), []).append((d, n))
    targets = {ab: _pair_target(dn) for ab, dn in by_pair.items()}
    return _descend_targets(vocab, targets, dim, epochs, lr)
