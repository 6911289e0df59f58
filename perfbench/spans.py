"""Span recorder for the traced run, Spark job attribution, and the
process-tree RSS sampler and CPU clock.

Spans are recorded from the benchmark process only: :meth:`Tracer.install`
wraps every public function (and public method of every public class)
defined in each layer module, and rebinds every name under which the
package (or the benchmark) imported the original. Each span

- sets a Spark job group, so the jobs it fires are counted against it
  through the status store;
- forces a returned DataFrame once with ``count()``, so the lazy work the
  call planned lands in its own span rather than in whichever later call
  triggers it;
- keeps start, end, parent and op id in memory until the run ends.

Self time is a span's duration minus the union of its children's
intervals. Job, task and shuffle figures are attributed to the innermost
span that was open when the job was submitted (its job group), so they
are "self" figures too.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "deep_db_learning_spark"

# the layers the per-layer metrics are reported for, as module paths
# below the package; a package layer covers all of its submodules
LAYERS = (
    "sources",
    "profiling",
    "operators.graph",
    "operators.message_passing",
    "operators.sampling",
    "functions.encode",
    "checkpoint",
    "plans.pipeline",
    "plans.training",
    "plans.stack",
    "operators.dedup",
    "streaming",
)

LAYER_METRICS = ("calls", "self_s", "jobs", "tasks", "failed_tasks", "task_s", "shuffle_mb", "core_util")

# the dedup pass against the standing index returns the new documents it
# kept; its input is counted too, so the documents it removed are known
AGAINST = "operators.dedup.minhash_dedup_against"


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    op: object
    start: float
    end: float = 0.0
    rows: int | None = None
    rows_in: int | None = None
    children: list = field(default_factory=list)


def _layer_modules(layer: str) -> list:
    mod = importlib.import_module(f"{PACKAGE}.{layer}")
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, f"{mod.__name__}."):
            mods.append(importlib.import_module(info.name))
    return mods


class Tracer:
    """Records one span per call into a layer's public functions."""

    def __init__(self, spark, extra_modules=()):
        self.sc = spark.sparkContext
        self.extra_modules = list(extra_modules)
        self.spans: list[Span] = []
        self.op = "setup"
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- install / uninstall ------------------------------------------------
    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for layer in LAYERS:
            for mod in _layer_modules(layer):
                short = mod.__name__[len(PACKAGE) + 1:]
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        wrappers[id(obj)] = self._wrap(obj, f"{short}.{name}", layer)
                    elif inspect.isclass(obj):
                        for mname, m in list(vars(obj).items()):
                            if not mname.startswith("_") and inspect.isfunction(m):
                                self._set(obj, mname, self._wrap(m, f"{short}.{name}.{mname}", layer))
        # rebind every importer's name for a wrapped function
        importers = [m for n, m in list(sys.modules.items())
                     if n == PACKAGE or n.startswith(PACKAGE + ".")] + self.extra_modules
        for mod in importers:
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._set(mod, name, w)

    def _set(self, owner, name, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str | None) -> Span:
        stack = self._stack()
        # a span opened on a thread with no open span (a profiling thread
        # pool, a streaming foreachBatch callback) hangs off the op root
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = Span(next(self._ids), name, layer, parent.id if parent else None,
                        self.op, time.perf_counter())
            self.spans.append(span)
            if parent is not None:
                parent.children.append(span)
        stack.append(span)
        self.sc.setJobGroup(f"span-{span.id}", name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        parent = stack[-1] if stack else self._root
        if parent is not None and parent.end == 0.0:
            self.sc.setJobGroup(f"span-{parent.id}", parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def op_span(self, op):
        """Context manager: the root span of one op."""
        tracer = self

        class _Op:
            def __enter__(self):
                tracer.op = op
                tracer._root = None
                tracer._root = tracer._open("op", None)
                return tracer._root

            def __exit__(self, *exc):
                tracer._close(tracer._root)
                tracer._root = None
                # spans opened between ops (reading an op's output back
                # for its check) belong to no op and are not reported
                tracer.op = None
                return False

        return _Op()

    def _wrap(self, fn, name: str, layer: str):
        from pyspark.sql import DataFrame

        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(name, layer)
            try:
                if name == AGAINST:
                    # the forcing counts are the tracer's own jobs: keep
                    # them apart from the jobs the program fires itself
                    tracer.sc.setJobGroup(f"force-{span.id}", name)
                    span.rows_in = args[0].count()
                    tracer.sc.setJobGroup(f"span-{span.id}", name)
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and not out.isStreaming:
                    tracer.sc.setJobGroup(f"force-{span.id}", name)
                    span.rows = out.count()
                return out
            finally:
                tracer._close(span)

        return traced

    # -- results --------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                    "op": s.op, "start": s.start, "end": s.end, "rows": s.rows,
                    "rows_in": s.rows_in,
                }) + "\n")


def self_time(span: Span) -> float:
    """Duration minus the union of the children's intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(span.children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.end - span.start - covered


def spark_job_stats(sc) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, summed task run time (s)
    and shuffle bytes written, read from the status store in one JSON
    round trip per listing."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    as_list = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = json.loads(mapper.writeValueAsString(as_list(store.jobsList(None))))
    # stageList(statuses, details, withSummaries, quantiles, taskStatus):
    # py4j passes no Scala defaults, so every argument is spelled out
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stage_list = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    stages = json.loads(mapper.writeValueAsString(as_list(stage_list)))
    by_stage: dict[int, list] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if isinstance(group, dict):  # scala Option rendered as an object
            group = group.get("value")
        g = out.setdefault(group or "", dict(jobs=0, tasks=0, failed_tasks=0, task_s=0.0, shuffle_bytes=0))
        g["jobs"] += 1
        for sid in job["stageIds"]:
            for st in by_stage.get(sid, ()):
                if st["status"] == "SKIPPED":
                    continue
                g["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                g["failed_tasks"] += st["numFailedTasks"]
                g["task_s"] += st["executorRunTime"] / 1000.0
                g["shuffle_bytes"] += st["shuffleWriteBytes"]
    return out


def layer_metrics(tracer: Tracer, sc, cores: int, n_ops: int, steps: int = 0) -> dict[str, float]:
    """Every per-layer metric, as a mean per traced op (ratios are taken
    over the sums)."""
    stats = spark_job_stats(sc)
    spans = [s for s in tracer.spans if isinstance(s.op, int)]
    zero = dict(jobs=0, tasks=0, failed_tasks=0, task_s=0.0, shuffle_bytes=0)

    def group(key: str) -> dict:
        return stats.get(key, zero)

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        self_s = sum(self_time(s) for s in mine)
        agg = {k: 0 for k in zero}
        for s in mine:
            for key in (f"span-{s.id}", f"force-{s.id}"):
                for k, v in group(key).items():
                    agg[k] += v
        out[f"{layer}.calls"] = len(mine) / n_ops
        out[f"{layer}.self_s"] = self_s / n_ops
        out[f"{layer}.jobs"] = agg["jobs"] / n_ops
        out[f"{layer}.tasks"] = agg["tasks"] / n_ops
        out[f"{layer}.failed_tasks"] = agg["failed_tasks"] / n_ops
        out[f"{layer}.task_s"] = agg["task_s"] / n_ops
        out[f"{layer}.shuffle_mb"] = agg["shuffle_bytes"] / 1e6 / n_ops
        out[f"{layer}.core_util"] = agg["task_s"] / (self_s * cores) if self_s else 0.0

    def rows(name: str) -> int:
        return sum(s.rows or 0 for s in spans if s.name == name)

    # candidates: the within-batch LSH pairs, plus the pairs against the
    # index, which minhash_dedup_against cuts to a checkpoint (its only
    # checkpoint child). Verified: the within-batch pairs that passed the
    # Jaccard check, plus the new documents the pass against the index
    # removed (each had at least one verified candidate)
    against = [s for s in spans if s.name == AGAINST]
    cand = rows("operators.dedup.lsh_candidate_pairs") + sum(
        c.rows or 0 for s in against for c in s.children if c.layer == "checkpoint")
    verified = rows("operators.dedup.ngram_jaccard_pairs") + sum(
        s.rows_in - s.rows for s in against)
    out["operators.dedup.candidate_pairs"] = cand / n_ops
    out["operators.dedup.dup_ratio"] = verified / cand if cand else 0.0

    # the trainer's own jobs per SGD step: program jobs only, not the
    # traced run's forcing counts
    program_jobs = 0
    for s in spans:
        if s.name == "plans.stack.train_relational_stack":
            todo = [s]
            while todo:
                c = todo.pop()
                program_jobs += group(f"span-{c.id}")["jobs"]
                todo.extend(c.children)
    out["plans.stack.jobs_per_step"] = program_jobs / steps if steps else 0.0
    out["checkpoint.rows_materialized"] = sum(
        s.rows or 0 for s in spans if s.layer == "checkpoint") / n_ops
    commits = [s.end - s.start for s in spans if s.name == "streaming.node_store.SnapshotStore.commit"]
    out["streaming.commit_s.p50"] = statistics.median(commits) if commits else 0.0
    out["streaming.write_amp"] = 0.0
    return out


def unit(metric: str) -> str:
    """Unit of a per-layer metric, by its name."""
    last = metric.rsplit(".", 1)[-1]
    if metric.endswith("commit_s.p50") or last in ("self_s", "task_s"):
        return "s"
    if last == "shuffle_mb":
        return "MB"
    if last in ("core_util", "dup_ratio", "write_amp", "overhead"):
        return "ratio"
    return "count"


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from ``/proc`` by one
    thread. Each process counts its proportional set size: the Python
    workers are forks of one daemon and share most of their pages, which
    a plain RSS sum would count once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += 1024 * int(next(line for line in f if line.startswith("Pss:")).split()[1])
            except (OSError, StopIteration):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def _stat_fields(pid) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children.setdefault(int(_stat_fields(entry)[1]), []).append(int(entry))
            except OSError:
                continue
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants, and the descendants they have reaped (a Python worker
    that exited counts through the daemon that forked it). Time the
    hypervisor stole from the machine is not in it."""
    ticks = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
    return ticks / os.sysconf("SC_CLK_TCK")
