"""Streaming upsert of per-entity features into the node store —
closing the SURVEY §2.9 north-star loop: events stream → per-user
profile features → the customer node store the graph reads.

Storage is a tiny **versioned parquet snapshot store** (Delta-style
snapshot isolation on plain parquet, no extra dependency): every
commit writes a full new snapshot directory ``v{n}`` and then flips the
``_LATEST`` pointer file — readers never observe a half-written
snapshot, and the pointer flip is atomic (os.replace). On a real
cluster the same layout works on any filesystem with atomic rename
(HDFS, or an object store via a manifest commit); swapping this class
for Delta/Iceberg keeps the operator unchanged.

The merge itself is the classic incremental-view-maintenance shape:
per micro-batch compute a *delta* of associative statistics (count,
decimal-fold sum, max), then full-outer-merge with the previous
snapshot. Only associative stats can be maintained this way —
exact distinct counts need the full history or a sketch, which is why
:func:`profile_delta` carries none (the batch
``user_profile_features`` remains the exact oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.exact_agg import exact_sum
from ..checkpoint import cut_lineage


class ConcurrentWriteError(RuntimeError):
    """A second writer committed to this store path between THIS
    writer's commits — the single-writer contract was violated."""


class SnapshotStore:
    """Versioned parquet snapshots with an atomically-flipped pointer.

    **Single-writer contract (r13, VERDICT r12 task 7).** Exactly one
    live writer per store path: the pointer flip serializes readers
    against the writer, not writers against each other. The store
    ENFORCES the contract optimistically — each instance remembers the
    version it last committed or observed, and ``commit`` refuses with
    :class:`ConcurrentWriteError` (before touching the data directory)
    when the pointer moved underneath it, so two interleaved live
    writers fail loudly on their next commit instead of silently
    losing each other's merges.

    **First-commit fence (r14, VERDICT r13 task 6).** The pointer fence
    alone could not catch two FRESH writers racing the same version
    (both read the same pointer, both write, last flip wins silently).
    Commits now pass through a storage-level conditional put: before
    writing snapshot ``v{n}`` the writer must CREATE the claim file
    ``_claim_v{n}`` with ``O_CREAT|O_EXCL`` — the local-FS primitive
    for compare-and-swap-from-absent (Delta's commit protocol uses the
    same idea on the commit log object). Exactly one racer wins the
    claim; the loser gets :class:`ConcurrentWriteError` before touching
    the data directory. Crash-replay stays legal: a claim whose writer
    died before flipping the pointer is detected (the claim records the
    claimant pid; a dead pid with an unmoved pointer = torn commit) and
    stolen atomically, so a restarted writer replays the batch as
    before, and the ``last_batch_id`` cursor makes the replay
    idempotent (the r12 torn-commit chaos test). The pid-liveness probe
    scopes this fence to a single host — exactly the scope of a local
    filesystem; a shared-FS deployment swaps this class for
    Delta/Iceberg whose commit service does the same check globally."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        # optimistic single-writer fence: None = not yet attached
        # (first commit attaches at whatever the pointer says)
        self._fence: int | None = None
        # claim identity: pid for cross-process liveness, plus a
        # per-instance token so two writer INSTANCES in one process
        # (same pid) still fence each other
        import uuid

        self._writer_id = uuid.uuid4().hex

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip().split(":", 1)[0])
        except (FileNotFoundError, ValueError):
            return None

    def last_batch_id(self) -> int | None:
        """The streaming batch id recorded WITH the latest commit
        (``None`` for batch-API commits): the idempotence cursor —
        a replayed ``foreachBatch`` with ``batch_id <= this`` already
        reached the store and must be skipped. Stored in the SAME
        pointer file as the version so the pair flips atomically (a
        marker written separately could survive a crash that the
        snapshot commit did not, silently dropping a batch)."""
        try:
            with open(self._pointer) as f:
                parts = f.read().strip().split(":", 1)
                return int(parts[1]) if len(parts) == 2 else None
        except (FileNotFoundError, ValueError):
            return None

    def versions(self) -> list[int]:
        """Snapshot versions still on disk (ascending) — the latest is
        the pointer target; older ones exist until vacuumed."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """The latest snapshot, or — Delta-style time travel — a
        specific retained ``version``. Reading a vacuumed or
        never-committed version raises (silently returning the latest
        would corrupt a replay-style consumer). ``schema``: the
        snapshot's schema when the caller knows it — skips Parquet
        schema inference, a Spark job per read; default infers."""
        v = self.latest_version()
        if v is None:
            return None
        if version is not None:
            if version not in self.versions() or version > v:
                raise ValueError(
                    f"version {version} not available (retained: "
                    f"{self.versions()}, latest committed: {v})"
                )
            v = version
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(os.path.join(self.path, f"v{v}"))

    def _claim(self, v: int, cur: int | None) -> None:
        """Conditional put of the ``_claim_v{v}`` token: succeed only if
        no live writer holds it. Raises :class:`ConcurrentWriteError`
        when another writer won the race for version ``v``.

        Fast path: ``O_CREAT|O_EXCL`` — the local-FS conditional put;
        exactly one racer creates the token. Contended path (token
        already exists): serialize on an ``flock`` so two restarted
        writers cannot both "steal" a dead claimant's torn commit —
        under the lock, re-check the pointer and the claimant's
        liveness, and only a provably-dead claim is taken over."""
        claim = os.path.join(self.path, f"_claim_v{v}")
        body = f"{os.getpid()}:{self._writer_id}"
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            import fcntl

            with open(os.path.join(self.path, "_claim_lock"), "a") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    if self.latest_version() != cur:
                        # the claimant finished: pointer moved under us
                        raise ConcurrentWriteError(
                            f"snapshot store {self.path}: version v{v} was "
                            "committed by a concurrent writer while this "
                            "writer prepared its own commit. The store is "
                            "single-writer; route all commits through one "
                            "foreachBatch/process."
                        )
                    try:
                        with open(claim) as f:
                            pid_s, _, wid = f.read().strip().partition(":")
                            pid = int(pid_s or "-1")
                    except (OSError, ValueError):
                        pid, wid = -1, ""
                    if wid == self._writer_id:
                        return  # our own claim (retry of a failed write)
                    alive = False
                    if pid == os.getpid():
                        # another writer INSTANCE in this live process
                        alive = True
                    elif pid > 0:
                        try:
                            os.kill(pid, 0)
                            alive = True
                        except ProcessLookupError:
                            alive = False
                        except PermissionError:
                            alive = True  # exists, owned by someone else
                    if alive:
                        raise ConcurrentWriteError(
                            f"snapshot store {self.path}: a live writer "
                            f"(pid {pid}) holds the claim for v{v} — two "
                            "writers are racing the same commit. The store "
                            "is single-writer; route all commits through "
                            "one foreachBatch/process (see SnapshotStore "
                            "docstring)."
                        )
                    # torn commit: the claimant died before flipping the
                    # pointer — take over the claim (safe: we hold the
                    # steal lock, and any NEW fast-path claimant would
                    # have failed O_EXCL on this existing file)
                    tmp = claim + f".steal.{os.getpid()}"
                    with open(tmp, "w") as f:
                        f.write(body)
                    os.replace(tmp, claim)
                    return
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)
        with os.fdopen(fd, "w") as f:
            f.write(body)

    def commit(self, df: DataFrame, batch_id: int | None = None) -> int:
        cur = self.latest_version()
        if self._fence is not None and cur != self._fence:
            raise ConcurrentWriteError(
                f"snapshot store {self.path}: pointer moved to "
                f"v{cur} while this writer last committed v{self._fence} "
                "— a second concurrent writer is active on this path. "
                "The store is single-writer; route all commits through "
                "one foreachBatch/process (see SnapshotStore docstring)."
            )
        v = (cur or 0) + 1
        # conditional put BEFORE the data write: exactly one of two
        # racing writers creates _claim_v{v}; the loser errors here
        # without touching the data directory (claims persist until
        # vacuum — deleting them on success would reopen the window
        # for a stale-attached writer to re-commit the same version)
        self._claim(v, cur)
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v{v}"))
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v) if batch_id is None else f"{v}:{batch_id}")
        os.replace(tmp, self._pointer)  # atomic pointer+cursor flip
        self._fence = v
        return v


def vacuum_snapshots(store: SnapshotStore, keep_last: int = 1) -> list[int]:
    """Delete snapshot versions older than the last ``keep_last`` —
    the retention pass every versioned store needs at scale (hourly
    micro-batches otherwise grow storage and directory listings without
    bound). Removes each superseded ``v{n}`` directory plus any sidecar
    ``*_v{n}`` (``stats_v3``, ``drift_v3``, ...).

    Safe by construction: the pointer file is NEVER touched, the
    pointed-to version is always retained (``keep_last`` is clamped to
    ≥ 1), and versions are deleted oldest-first — a crash mid-vacuum
    leaves a store whose latest ``keep_last`` versions (and cursor) are
    intact, and re-running finishes the job. Readers follow the pointer,
    so they never observe a vacuumed version; run it from the single
    writer (e.g. inside ``foreachBatch`` after the commit) so no reader
    holds an older version open.

    Returns the removed version numbers (oldest first).
    """
    import re
    import shutil

    latest = store.latest_version()
    if latest is None:
        return []
    cutoff = latest - max(1, keep_last)  # remove versions <= cutoff
    if cutoff < 1:
        return []
    pat = re.compile(r"^(?:[A-Za-z0-9_.-]*_)?v(\d+)$")
    doomed: list[tuple[int, str]] = []
    for name in os.listdir(store.path):
        m = pat.match(name)
        if m and int(m.group(1)) <= cutoff:
            doomed.append((int(m.group(1)), name))
    removed: list[int] = []
    for ver, name in sorted(doomed):
        full = os.path.join(store.path, name)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            # sidecar FILES too — e.g. the commit-claim tokens
            # ``_claim_v{n}`` (rmtree silently no-ops on a file)
            try:
                os.remove(full)
            except OSError:
                pass
        if name == f"v{ver}":
            removed.append(ver)
    return removed


def profile_delta(batch: DataFrame) -> DataFrame:
    """Associative per-user statistics of one micro-batch."""
    return batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )


def merge_profiles(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Full-outer merge of two associative stat frames. Decimal-fold
    sums make the merged sum independent of batch boundaries."""
    if old is None:
        return delta
    o = old.select(
        F.col("user_id"),
        F.col("n_events").alias("o_n"),
        F.col("sum_value").alias("o_s"),
        F.col("last_ts").alias("o_t"),
    )
    d = delta.select(
        F.col("user_id"),
        F.col("n_events").alias("d_n"),
        F.col("sum_value").alias("d_s"),
        F.col("last_ts").alias("d_t"),
    )
    # null-SAFE key equality: groupBy put all NULL-user events in one
    # group, and a plain full_outer on user_id would never match
    # NULL = NULL — the snapshot would accumulate one extra NULL-user
    # row per batch instead of merging, diverging from the batch oracle
    # (GROUP BY groups NULLs together)
    m = o.join(d, o["user_id"].eqNullSafe(d["user_id"]), "full_outer")
    zero = F.lit(0).cast("bigint")
    return m.select(
        F.coalesce(o["user_id"], d["user_id"]).alias("user_id"),
        (F.coalesce("o_n", zero) + F.coalesce("d_n", zero)).alias("n_events"),
        (
            F.coalesce(F.col("o_s").cast("decimal(30,9)"), F.lit(0).cast("decimal(30,9)"))
            + F.coalesce(F.col("d_s").cast("decimal(30,9)"), F.lit(0).cast("decimal(30,9)"))
        ).cast("double").alias("sum_value"),
        F.greatest("o_t", "d_t").alias("last_ts"),
    )


def stream_profiles_into_store(
    events_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    query_name: str = "node_store_upsert",
    keep_last: int | None = None,
):
    """Maintain the per-user profile store from an events stream:
    ``foreachBatch`` computes the batch delta and commits the merged
    snapshot. Exactly-once per micro-batch (r7): the store records the
    last committed ``batch_id`` atomically WITH the snapshot pointer,
    so a replayed batch (checkpoint lost or not yet advanced when the
    commit landed) is detected and skipped — the Delta commit-protocol
    idea on the snapshot store's own pointer file."""
    store = SnapshotStore(store_path)
    spark = events_stream.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id()
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        delta = profile_delta(batch_df)
        old = store.read(spark)
        merged = merge_profiles(old, delta)
        # materialize BEFORE overwriting: the merged plan reads the old
        # snapshot; localCheckpoint cuts that lineage so the new write
        # does not race the files it is replacing
        merged = cut_lineage(merged, eager=True)
        store.commit(merged, batch_id=batch_id)
        if keep_last is not None:
            # retention runs INSIDE the single writer, after the
            # pointer flip — no reader can hold a vacuumed version
            vacuum_snapshots(store, keep_last=keep_last)

    return (
        events_stream.writeStream.foreachBatch(upsert)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def snapshot_diff(
    spark: SparkSession,
    store: SnapshotStore,
    key_cols: list[str] | str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Time-travel diff between two store versions — the audit/CDC
    read the versioned layout makes cheap: ``(op, *key_cols, old,
    new)`` with ``op ∈ added | removed | changed`` (unchanged keys
    omitted), ``old``/``new`` the full non-key column structs of each
    side (NULL on the absent side). ONE full-outer join on the key +
    a null-safe struct comparison — pure codegen, nothing driver-side;
    at scale this is the standard snapshot-reconciliation shape
    (co-partitionable on the key; swap in Delta/Iceberg CDC without
    touching callers). ``v_to=None`` diffs against the latest."""
    a = store.read(spark, version=v_from)
    b = store.read(spark, version=v_to)
    if a is None or b is None:
        raise ValueError("snapshot_diff: missing version")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    vals = [c for c in a.columns if c not in keys]
    if vals != [c for c in b.columns if c not in keys]:
        raise ValueError("snapshot_diff: schema drift between versions")
    va = a.select(*keys, F.struct(*vals).alias("old"))
    vb = b.select(*keys, F.struct(*vals).alias("new"))
    j = va.join(vb, keys, "full_outer")
    op = (
        F.when(F.col("old").isNull(), F.lit("added"))
        .when(F.col("new").isNull(), F.lit("removed"))
        .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("changed"))
    )
    return j.select(op.alias("op"), *keys, "old", "new").where(
        F.col("op").isNotNull()
    )
