"""The benchmark's workloads: what one op does and how its output is
checked.

Each workload exposes ``prepare(i)`` (untimed: lay down what op ``i``
consumes), ``op(i)`` (the user-visible unit of work), ``observe(i)``
(untimed: read back what the op produced, as a dict of plain values)
and ``rows(i)`` (input rows the op consumes). ``timed(i)`` says whether
op ``i`` is timed; the untimed ops before the first timed one are
set-up. ``may_stop_before(i)`` says whether a run may end before op
``i``, so that every run times the same ops. ``check(obs, reference,
golden)`` returns the list of problems found; an op with problems
counts as failed.

The reference observation is the first op's: every op of a run sees the
same inputs and seed, so anything deterministic must repeat exactly.
Goldens (``goldens.json``) pin the same values per seed across commits.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from deep_db_learning_spark import plans, sources, streaming
from deep_db_learning_spark.streaming import crawl

from datagen import RELATIONAL_TABLES

TARGET = ("customer", "c_mktsegment")
# accuracy is a float the MLlib fit produces; a later change may reorder
# its sums, so goldens hold it to this absolute tolerance
ACCURACY_TOL = 0.02
# the minibatch trainer runs one epoch of two batches: its loop of
# small jobs per SGD step is all there, at a third of the default
# three epochs' cost
EPOCHS, N_BATCHES = 1, 2
CRAWL_BANDS = 16  # stream_dedup_into_band_index's default band count


def _digest(values) -> str:
    return hashlib.sha256(",".join(map(str, values)).encode()).hexdigest()[:16]


class RdlSliceMinibatch:
    """One op fits both of the engine's relational models on a freshly
    read database (the engine's profile and key-range memos key on the
    loaded frames, so a re-read keeps every op cold):

    - the slice: ``minimum_slice`` (profile -> schema -> FK graph -> two
      message-passing hops -> split -> MLlib logistic regression);
    - the minibatch stack: ``train_relational_stack`` (the ORDERS layer,
      neighbor budget 5, EPOCHS x N_BATCHES SGD steps), then
      ``predict_relational_stack`` over every customer, written to
      Parquet.

    Op 0 is the untimed warm-up; every later op is timed."""

    name = "rdl_slice_minibatch"
    steps_per_op = EPOCHS * N_BATCHES

    def __init__(self, spark, inputs, seed: int, workdir: str):
        self.spark = spark
        self.inputs = inputs
        self.seed = seed
        self.pred_dir = os.path.join(workdir, "predictions")
        self.rows_per_op = sum(inputs.row_counts[t] for t in RELATIONAL_TABLES)
        self.input_desc = f"{self.rows_per_op} database rows per op"

    def timed(self, i) -> bool:
        return i >= 1

    def may_stop_before(self, i) -> bool:
        return True

    def rows(self, i) -> int:
        return self.rows_per_op

    def prepare(self, i) -> None:
        pass

    def op(self, i) -> None:
        db = sources.load_testdata(self.spark, self.inputs.data_dir)
        tables = {t: db.tables[t] for t in RELATIONAL_TABLES}
        pks = db.primary_keys
        # the catalog declares FKs to every TPC-H table; keep those
        # between tables that exist
        fks = {t: [fk for fk in db.foreign_keys[t] if fk.ref_table in tables] for t in tables}
        t0 = time.perf_counter()
        self.slice = plans.minimum_slice(
            tables, pks, fks, target=TARGET, depth=2, decoder="logreg", seed=self.seed
        )
        t1 = time.perf_counter()
        self.trained = plans.train_relational_stack(
            tables, pks, fks, epochs=EPOCHS, n_batches=N_BATCHES, seed=self.seed
        )
        t2 = time.perf_counter()
        pred = plans.predict_relational_stack(tables, pks, fks, self.trained, seed=self.seed)
        pred.write.mode("overwrite").parquet(self.pred_dir)
        self.parts = {"slice_s": t1 - t0, "train_s": t2 - t1, "predict_s": time.perf_counter() - t2}

    def observe(self, i) -> dict:
        from pyspark.sql import functions as F

        r = self.slice
        types = [
            f"{t}.{c}={spec.type}"
            for t in sorted(r.schema)
            for c, spec in sorted(r.schema[t].columns.items())
        ]
        feats = sorted(c for c in r.features.columns if c not in ("node_id", "label", "split"))
        rows = (
            self.spark.read.parquet(self.pred_dir)
            .groupBy("split")
            .agg(
                F.avg((F.col("pred") == F.col("label")).cast("double")).alias("acc"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        return {
            "types": _digest(types),
            "features": _digest(feats),
            "n_features": len(feats),
            "n_test": int(r.metrics["n"]),
            "accuracy": float(r.metrics["accuracy"]),
            "losses": [float(x) for x in self.trained.losses],
            "stack_accuracy": {k: float(v) for k, v in sorted(self.trained.accuracy.items())},
            "predicted_accuracy": {r["split"]: float(r["acc"]) for r in sorted(rows)},
            "n_scored": int(sum(r["n"] for r in rows)),
        }

    def check(self, obs, reference, golden) -> list[str]:
        problems = []
        if not 0.0 <= obs["accuracy"] <= 1.0:
            problems.append(f"accuracy {obs['accuracy']} outside [0, 1]")
        n_customers = self.inputs.row_counts["customer"]
        if not 0.2 * n_customers < obs["n_test"] < 0.4 * n_customers:
            problems.append(f"test split n={obs['n_test']} is not about 30% of {n_customers}")
        # the predict docstring pins per-split accuracy from the scored
        # frame as bit-identical to the trainer's own evaluation
        if obs["predicted_accuracy"] != obs["stack_accuracy"]:
            problems.append(
                f"predicted accuracy {obs['predicted_accuracy']} != trained {obs['stack_accuracy']}"
            )
        if obs["n_scored"] != n_customers:
            problems.append(f"scored {obs['n_scored']} customers, not all")
        if len(obs["losses"]) != self.steps_per_op:
            problems.append(f"{len(obs['losses'])} SGD steps, expected {self.steps_per_op}")
        for ref_name, ref in (("first op", reference), ("golden", golden)):
            if not ref:
                continue
            # the slice's deterministic outputs, and the trainer's
            # determinism contract: bit-identical trajectories
            for k in ("types", "features", "n_features", "n_test", "losses", "stack_accuracy"):
                if obs[k] != ref[k]:
                    problems.append(f"{k} {obs[k]!r} != {ref_name} {ref[k]!r}")
            if abs(obs["accuracy"] - ref["accuracy"]) > ACCURACY_TOL:
                problems.append(f"accuracy {obs['accuracy']} != {ref_name} {ref['accuracy']}")
        return problems


class CrawlIngest:
    """One arriving batch of documents committed through
    ``stream_dedup_into_band_index``: the corpus arrives as seeded
    batches into fresh store, kept and checkpoint directories (one pass);
    each op lands one batch file and runs the stream until it is
    committed. Every pass times the same batch positions, and a run ends
    only between passes, so a faster build does not reach later
    positions with a larger index."""

    name = "crawl_ingest"
    steps_per_op = 0
    # batch 0 lands in an empty index and never runs the banded join;
    # batch 1 is the first that does, and its time swings with that
    # path's warm-up (7.6-14 s where later batches take 5-7 s on a
    # 4-core host), so neither is timed
    untimed_positions = 2

    def __init__(self, spark, inputs, seed: int, workdir: str):
        self.spark = spark
        self.inputs = inputs
        self.seed = seed
        self.workdir = workdir
        path = os.path.join(inputs.data_dir, "documents.parquet")
        self.docs = pq.read_table(path, columns=["doc_id", "text"])
        self.schema = spark.read.parquet(path).select("doc_id", "text").schema
        self.batches = inputs.crawl_batches
        n_docs = sum(len(b) for b in self.batches)
        self.input_desc = (
            f"{n_docs} docs in {len(self.batches)} arriving batches; "
            f"batches {self.untimed_positions}-{len(self.batches) - 1} of each pass are timed"
        )
        self.pass_no = -1
        self.arrived: set[int] = set()

    def timed(self, i: int) -> bool:
        return self.position(i) >= self.untimed_positions

    def may_stop_before(self, i: int) -> bool:
        return self.position(i) == 0

    def rows(self, i: int) -> int:
        return len(self.batches[self.position(i)])

    def position(self, i: int) -> int:
        """Batch index within its pass of op ``i``."""
        return i % len(self.batches)

    def _dirs(self) -> dict[str, str]:
        base = os.path.join(self.workdir, f"crawl{self.pass_no}")
        return {k: os.path.join(base, k) for k in ("in", "store", "kept", "ck")}

    def prepare(self, i: int) -> None:
        b = self.position(i)
        if b == 0:
            if self.pass_no >= 0:
                shutil.rmtree(os.path.dirname(self._dirs()["in"]))
            self.pass_no += 1
            self.arrived = set()
            os.makedirs(self._dirs()["in"])
        batch = self.docs.filter(pc.is_in(self.docs["doc_id"], value_set=pa.array(self.batches[b])))
        in_dir = self._dirs()["in"]
        # land the file atomically: the stream source skips dot-files
        tmp = os.path.join(in_dir, f".arriving-{b:03d}.parquet")
        pq.write_table(batch, tmp)
        os.rename(tmp, os.path.join(in_dir, f"batch-{b:03d}.parquet"))
        self.arrived.update(int(x) for x in self.batches[b])

    def op(self, i: int) -> None:
        d = self._dirs()
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d["in"])
        )
        q = streaming.stream_dedup_into_band_index(
            stream, d["store"], d["ck"], d["kept"], keep_last=2
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"crawl stream failed: {q.exception()}")

    def observe(self, i: int) -> dict:
        d = self._dirs()
        kept = crawl.read_parts(self.spark, d["kept"]).select("doc_id", "text").collect()
        ids = sorted(r["doc_id"] for r in kept)
        return {
            "position": self.position(i),
            "kept": len(ids),
            "kept_hash": _digest(ids),
            "index_rows": int(streaming.SnapshotStore(d["store"]).read(self.spark).count()),
            "unique_ids": len(set(ids)) == len(ids),
            "unique_texts": len({r["text"] for r in kept}) == len(kept),
            "arrived_only": set(ids) <= self.arrived,
            "kept_text_bytes": sum(len(r["text"].encode()) for r in kept),
        }

    def check(self, obs, reference, golden) -> list[str]:
        problems = []
        if not (obs["unique_ids"] and obs["arrived_only"]):
            problems.append("kept ids are not unique arrived docs")
        if not obs["unique_texts"]:
            problems.append("an exact duplicate text survived dedup")
        if obs["index_rows"] != CRAWL_BANDS * obs["kept"]:
            problems.append(f"index has {obs['index_rows']} rows for {obs['kept']} kept docs")
        want = (golden or {}).get(str(obs["position"]))
        got = {k: obs[k] for k in ("kept", "kept_hash", "index_rows")}
        if want is not None and got != want:
            problems.append(f"batch {obs['position']}: {got} != golden {want}")
        return problems

    def write_amp(self, obs) -> float:
        """Bytes on disk under the store and kept directories per byte of
        kept text, for the current pass (``obs`` is its latest
        observation)."""
        d = self._dirs()
        on_disk = sum(
            os.path.getsize(os.path.join(root, f))
            for k in ("store", "kept")
            for root, _, files in os.walk(d[k])
            for f in files
        )
        return on_disk / max(1, obs["kept_text_bytes"])


WORKLOADS = {w.name: w for w in (RdlSliceMinibatch, CrawlIngest)}
