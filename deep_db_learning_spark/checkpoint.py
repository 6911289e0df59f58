"""Deployment-gated lineage cutting.

Several operators (iterative BFS / label propagation, dedup candidate
sets, the training frame, streaming snapshot merges) must materialize
an intermediate and *cut its lineage* — a bare ``persist()`` is not
enough when the next step re-derives the frame from a source that is
about to be overwritten, or when the plan would otherwise grow without
bound across iterations.

``localCheckpoint`` is the fast way to do that, but its blocks are
stored only on the executors that computed them, unreplicated and
non-recomputable: on a real cluster, losing one executor makes every
downstream action fail permanently instead of recomputing lineage.
That is acceptable in ``local[N]`` (one JVM — if it dies the job is
gone anyway) but a fault-tolerance regression at 100 TB scale.

``cut_lineage`` gates on deployment: when the caller has configured a
reliable checkpoint directory (``sc.setCheckpointDir('hdfs://...')`` /
S3), it uses ``DataFrame.checkpoint`` — replicated, storage-backed,
survives executor loss. Otherwise it falls back to ``localCheckpoint``.
Cluster jobs therefore opt into fault tolerance with one line of
session setup and no operator changes.

Storage hygiene: "checkpoint blocks are reclaimed on GC" holds
unconditionally only for ``localCheckpoint`` (ContextCleaner drops the
RDD blocks). Reliable ``checkpoint()`` FILES are removed at frame GC
only when ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on —
a static driver-startup conf (default false), so it cannot be flipped
here after the session exists.
:func:`~deep_db_learning_spark.session.make_session` sets it; a
session built elsewhere with a checkpoint dir but without the conf
accumulates checkpoint files for the session lifetime across the
iterative callers (BFS frontiers, label propagation, streaming
snapshot merges) — :func:`cut_lineage` warns once when it detects that
posture.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

_WARNED_UNCLEANED = False


def _do_cut(df: DataFrame, *, eager: bool) -> DataFrame:
    """The raw checkpoint call, posture-gated (no tag handling)."""
    sc = df.sparkSession.sparkContext
    try:
        ckpt_dir = sc.getCheckpointDir()
    except Exception:  # pragma: no cover - very old API surface
        ckpt_dir = None
    if ckpt_dir:
        global _WARNED_UNCLEANED
        if not _WARNED_UNCLEANED and (
            sc.getConf().get(
                "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
            )
            != "true"
        ):
            _WARNED_UNCLEANED = True
            warnings.warn(
                "cut_lineage: a checkpoint dir is set but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is off — "
                "reliable checkpoint files will accumulate until the "
                "session ends. Set the conf at session build "
                "(make_session does) to reclaim them at frame GC.",
                RuntimeWarning,
                stacklevel=2,
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its logical plan.

    Uses a reliable ``checkpoint()`` when a checkpoint dir is set on
    the SparkContext (cluster posture), else ``localCheckpoint()``
    (local posture — fast, in-memory, non-recoverable).

    Idempotent per frame OBJECT (r14): a frame this function already
    returned is tagged and comes back as-is — re-checkpointing an
    already-materialized, already-truncated frame only costs an extra
    job. The tag lives on that exact DataFrame object; any derived
    frame (filter/select/join) is a new object and cuts normally.
    r15 (ADVICE r14): the tag records whether the cut was MATERIALIZED
    (eager, or lazily cut then acted on via :func:`cut_count`), and a
    frame cut lazily only short-circuits a lazy request — an eager
    request on it re-checkpoints rather than silently skipping the
    stronger materialization.
    """
    tag = df.__dict__.get("_ddl_lineage_cut")
    if tag is True or (tag == "lazy" and not eager):
        return df
    out = _do_cut(df, eager=eager)
    out.__dict__["_ddl_lineage_cut"] = True if eager else "lazy"
    return out


def mark_cut(df: DataFrame) -> DataFrame:
    """Tag ``df`` as already lineage-cut WITHOUT checkpointing it (r15,
    ADVICE r14 on the minhash candidate slice).

    For a frame that is a TRIVIAL filter/projection of an
    already-materialized cut: its "lineage" is a scan of checkpoint
    blocks plus row-local expressions, so re-checkpointing it buys
    nothing but a job, and consumers re-running the trivial tail pay
    only the block scan. The caller asserts that triviality — tagging
    a frame with an expensive plan pushes that cost into every
    consumer instead."""
    df.__dict__["_ddl_lineage_cut"] = True
    return df


def cut_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Cut lineage and count in ONE Spark job (r15, guide §2.1).

    ``cut_lineage(eager=True)`` + ``count()`` costs two jobs per call
    — a materialization pass and a count pass — which is the dominant
    per-round cost of the iterative graph operators at bench scale
    (each job re-pays the scheduler floor over node-sized data). A
    LAZY checkpoint deferred to the ``count()`` action computes,
    persists and counts the frame in one job: the returned frame is
    exactly as materialized and lineage-truncated as the eager path.
    """
    if df.__dict__.get("_ddl_lineage_cut") is True:
        return df, df.count()
    out = _do_cut(df, eager=False)
    n = out.count()  # materializes the deferred checkpoint
    out.__dict__["_ddl_lineage_cut"] = True
    return out, n
