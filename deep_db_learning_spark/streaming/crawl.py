"""Streaming dedup-on-arrival — the full incremental-crawl front door
as ONE operator: each arriving micro-batch of documents is deduped
against the STANDING corpus (banded minhash index join — the batch
signs only itself), then within itself, and the survivors land in the
clean-corpus output while their band rows append to the index.

This composes the batch pieces (``dedup.minhash_band_index``,
``dedup.minhash_dedup_against(candidates=...)``,
``dedup.minhash_lsh_dedup(candidates=...)``) under ``foreachBatch``
with the snapshot store's replay cursor, in the filter-then-verify
shape of a distributed similarity join: probe the standing index once,
then verify only the candidate pairs.

- the snapshot store holds the BAND INDEX (``(id, band, bucket)`` —
  ``bands`` rows of three scalars per kept doc, the narrow standing
  artifact);
- the kept corpus writes to ``kept_path/batch=<id>`` with overwrite,
  so a replayed batch rewrites its own partition instead of
  duplicating (and the union of partitions IS the reference corpus the
  next batch's candidate verify reads — only candidate rows, via the
  verify join inside ``minhash_dedup_against``);
- the batch is signed and banded ONCE, and ONE bucket join of its band
  rows against ``old index ∪ its own band rows`` yields every
  candidate pair: the cross pairs ``(__new_id, __ref_id)`` against the
  store and the within-batch pairs ``id_a < id_b``, two row-local
  slices of the one materialized pair frame (``mark_cut``, the
  ``q_minhash_dedup`` parity-slice pattern);
- both stores are read with the schemas the batch already holds (the
  band rows' for the index, the batch's for the kept corpus), so
  neither read runs a Parquet schema-inference job.

Each batch materializes (eager ``cut_lineage``) exactly the frames
with more than one consumer; each of those consumers would otherwise
re-run the frame's whole plan:

- the batch's band rows: the bucket join (both sides) and the index
  append (semi-joined to the kept ids);
- the candidate pairs: the cross slice (the against-store verify) and
  the within-batch slice (the within-batch verify);
- the SURVIVORS of the against-store pass (the verify join over the
  cross pairs): the within-batch pass reads them twice — its verify
  semi-joins them to the pair ids and shingles those docs, and its
  anti-join keeps the survivors that lost no within-batch pair;
- inside the within-batch verify (``ngram_jaccard_pairs``), those
  shingles, each doc's taken once: both sides of the pair join read
  them, and an inner join on each side means a pair whose lower-id doc
  lost to the store cannot remove its partner;
- ``kept``, the batch's final survivors: the kept-partition write and
  the kept-id semi-join that selects the index rows.

The within-batch losers and the new index (old index ∪ kept band
rows) each have one consumer — the anti-join and the snapshot commit's
write — and stay lazy.

At 100 TB this is the production shape: per batch the standing index
is scanned only through the (band, bucket) join, the standing texts
only for verify candidates, and the index append is the kept batch's
own band rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage, mark_cut
from .node_store import SnapshotStore
from .partdir import compact_parts as compact_kept_corpus  # re-export
from .partdir import read_parts


def stream_dedup_into_band_index(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    kept_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.7,
    within_batch: bool = True,
    query_name: str = "crawl_dedup",
    keep_last: int | None = None,
):
    """Dedup each arriving batch against the standing band index, then
    (optionally) within itself; append survivors' band rows to the
    index and the survivors themselves to the clean-corpus output.
    Replay-idempotent via the snapshot store's batch cursor + the
    per-batch overwrite partition in ``kept_path``."""
    from ..operators.dedup import (
        _bucket_pairs,
        minhash_band_index,
        minhash_dedup_against,
        minhash_lsh_dedup,
    )

    store = SnapshotStore(store_path)
    spark = doc_stream.sparkSession

    def append(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id()
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        band_rows = cut_lineage(
            minhash_band_index(
                batch_df, text_col, id_col,
                num_perm=num_perm, bands=bands, shingle_k=shingle_k,
            ),
            eager=True,
        )
        old_index = store.read(spark, schema=band_rows.schema)
        # one bucket join for both passes: the probe side tags each
        # row with its source, the standing index (cross pairs) or the
        # batch itself (within-batch pairs, id_a < id_b as in
        # lsh_candidate_pairs)
        probe = None
        if old_index is not None:
            probe = old_index.withColumn("__cross", F.lit(True))
        if within_batch:
            own = band_rows.withColumn("__cross", F.lit(False))
            probe = own if probe is None else probe.unionByName(own)
        if probe is not None:
            pairs = cut_lineage(
                _bucket_pairs(
                    band_rows, probe, id_col, ("__a", "__b"),
                    where=F.col("__cross") | (F.col("__a") < F.col("__b")),
                ),
                eager=True,
            )
        kept = batch_df
        if old_index is not None:
            # manifest-aware read: after compact_kept_corpus the dir
            # holds compacted_<id> (+ possibly covered leftovers from a
            # crash window) — a bare read.parquet would double-count
            reference = read_parts(spark, kept_path, schema=batch_df.schema)
            # mark_cut, not a fresh cut: each slice is a row-local
            # filter/projection of the materialized pair frame
            cross = mark_cut(
                pairs.filter(F.col("__cross")).select(
                    F.col("__a").alias("__new_id"), F.col("__b").alias("__ref_id")
                )
            )
            kept = cut_lineage(
                minhash_dedup_against(
                    kept, reference, text_col, id_col,
                    shingle_k=shingle_k, threshold=threshold,
                    candidates=cross,
                ),
                eager=True,
            )
        if within_batch:
            # verified against the survivors only: a pair whose lower-id
            # doc lost to the store cannot remove its partner
            within = mark_cut(
                pairs.filter(~F.col("__cross")).select(
                    F.col("__a").alias("id_a"), F.col("__b").alias("id_b")
                )
            )
            kept = minhash_lsh_dedup(
                kept, text_col, id_col,
                shingle_k=shingle_k, threshold=threshold,
                candidates=within,
            )
        kept = cut_lineage(kept, eager=True)
        # kept partition FIRST (replays overwrite it), index commit —
        # which advances the replay cursor — LAST: a crash in between
        # replays the batch into the same partition, never duplicating
        kept.write.mode("overwrite").parquet(
            os.path.join(kept_path, f"batch={batch_id}")
        )
        kept_bands = band_rows.join(kept.select(id_col), id_col, "leftsemi")
        new_index = (
            kept_bands if old_index is None
            else old_index.unionByName(kept_bands)
        )
        store.commit(new_index, batch_id=batch_id)
        if keep_last is not None:
            from .node_store import vacuum_snapshots

            vacuum_snapshots(store, keep_last=keep_last)

    return (
        doc_stream.writeStream.foreachBatch(append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
