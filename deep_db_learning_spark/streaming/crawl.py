"""Streaming dedup-on-arrival — the full incremental-crawl front door
as ONE operator: each arriving micro-batch of documents is deduped
against the STANDING corpus (banded minhash index join — the batch
signs only itself), then within itself, and the survivors land in the
clean-corpus output while their band rows append to the index.

This composes the three batch pieces
(``dedup.minhash_dedup_against(ref_banded=...)``,
``dedup.minhash_lsh_dedup``, ``dedup.minhash_band_index``) under
``foreachBatch`` with the snapshot store's replay cursor:

- the snapshot store holds the BAND INDEX (``(id, band, bucket)`` —
  ``bands`` rows of three scalars per kept doc, the narrow standing
  artifact);
- the kept corpus writes to ``kept_path/batch=<id>`` with overwrite,
  so a replayed batch rewrites its own partition instead of
  duplicating (and the union of partitions IS the reference corpus the
  next batch's candidate verify reads — only candidate rows, via the
  semi-join inside ``minhash_dedup_against``);
- signatures are computed ONCE per batch and shared by the
  against-store join, the within-batch dedup, and the index append.

Each batch materializes (eager ``cut_lineage``) exactly the frames
with more than one consumer; each of those consumers would otherwise
re-run the frame's whole plan:

- ``sig``, the batch's signatures: the against-store banding, the
  within-batch banding (semi-joined to the survivors) and the index
  rows (semi-joined to the kept ids);
- the SURVIVORS of the against-store pass (the verify chain over the
  standing corpus, ~12 jobs per evaluation): the within-batch pass
  reads them three times — their ids select the signatures it bands,
  its verify shingles the candidate docs among them, and its
  anti-join keeps the survivors that lost no within-batch pair;
- ``kept``, the batch's final survivors: the kept-partition write and
  the kept-id semi-join that selects the index rows.

The within-batch losers and the new index (old index ∪ band rows)
each have one consumer — the anti-join and the snapshot commit's
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

from ..checkpoint import cut_lineage
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
        minhash_band_index,
        minhash_dedup_against,
        minhash_lsh_dedup,
        minhash_signature,
    )

    store = SnapshotStore(store_path)
    spark = doc_stream.sparkSession

    def append(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id()
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        sig = cut_lineage(
            minhash_signature(batch_df, text_col, num_perm, shingle_k),
            eager=True,
        )
        old_index = store.read(spark)
        kept = batch_df
        if old_index is not None:
            # manifest-aware read: after compact_kept_corpus the dir
            # holds compacted_<id> (+ possibly covered leftovers from a
            # crash window) — a bare read.parquet would double-count
            reference = read_parts(spark, kept_path)
            kept = cut_lineage(
                minhash_dedup_against(
                    kept, reference, text_col, id_col,
                    num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                    threshold=threshold,
                    new_signed=sig, ref_banded=old_index,
                ),
                eager=True,
            )
        if within_batch:
            kept_ids = kept.select(id_col)
            kept = minhash_lsh_dedup(
                kept, text_col, id_col,
                num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                threshold=threshold,
                signed=sig.join(kept_ids, id_col, "leftsemi"),
            )
        kept = cut_lineage(kept, eager=True)
        # kept partition FIRST (replays overwrite it), index commit —
        # which advances the replay cursor — LAST: a crash in between
        # replays the batch into the same partition, never duplicating
        kept.write.mode("overwrite").parquet(
            os.path.join(kept_path, f"batch={batch_id}")
        )
        band_rows = minhash_band_index(
            kept, text_col, id_col,
            num_perm=num_perm, bands=bands, shingle_k=shingle_k,
            signed=sig.join(kept.select(id_col), id_col, "leftsemi"),
        )
        new_index = (
            band_rows if old_index is None
            else old_index.unionByName(band_rows)
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
