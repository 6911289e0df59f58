"""Benchmark of the deep_db_learning_spark engine.

    python3 perfbench/run.py --workload rdl_slice_minibatch --seed 1 --seconds 10 --trace 0

One process, one ``local[nproc]`` session, a closed loop with a single
client: the next op starts when the previous one has finished and been
checked. Inputs are generated from ``--seed`` inside the checkout (see
``datagen.py``). Set-up (session, inputs, the untimed warm-up ops) is
reported as ``setup_s``; then ops run until ``--seconds`` have passed.

A workload may have untimed ops besides the set-up ones (the crawl's
first batches of every pass), and a run ends only where the workload
allows it (between crawl passes), so every run times the same kind of
ops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` times the
ops up to the first point where a run may end untraced, installs the
span recorder, times traced ops from there until ``--seconds`` have
passed, and prints the per-layer metrics plus the tracing overhead: the
median traced op against the median untraced op of the same kind. The
last line of stdout is the JSON result; the line before it is a report
with sample counts, per-op times, observations and workload-specific
figures.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "deep_db_learning_spark")
WORKLOAD_NAMES = ("rdl_slice_minibatch", "crawl_ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="input size: bench (measured) or smoke (quick self-check)")
    return p.parse_args(argv)


def session(workdir: str):
    from deep_db_learning_spark.session import make_session

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(1536, mem_kb // 1024 // 4)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    spark = make_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        driver_memory=f"{heap_mb}m",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size is then
            # the same in every run, so peak_rss_mb moves with what the
            # program holds off-heap and in Python, not with when the
            # collector happened to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch",
            # the traced run reads every job and stage of the run back
            # from the status store; keep them all in both modes
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def load_golden(workload: str, scale: str, seed: int):
    with open(os.path.join(HERE, "goldens.json")) as f:
        return json.load(f).get(workload, {}).get(scale, {}).get(str(seed))


def run(args, workdir: str) -> dict:
    import datagen
    import spans
    import workloads

    sampler = spans.RssSampler().start()
    spark = None
    try:
        spark, cores = session(workdir)
        inputs = datagen.generate(os.path.join(workdir, "data"), args.seed, args.scale)
        wl = workloads.WORKLOADS[args.workload](spark, inputs, args.seed, workdir)
        golden = load_golden(args.workload, args.scale, args.seed)
        problems: list[str] = []
        observations: list[dict] = []

        def one_op(i, tracer=None):
            """prepare + op + check; returns (seconds, CPU seconds,
            problems). With a tracer, only the op itself runs inside its
            op span."""
            wl.prepare(i)
            t, c = time.perf_counter(), spans.tree_cpu_s()
            try:
                with tracer.op_span(i) if tracer else contextlib.nullcontext():
                    wl.op(i)
                dt, dc = time.perf_counter() - t, spans.tree_cpu_s() - c
                obs = wl.observe(i)
            except Exception:  # an op that raises is a failed op, the run goes on
                return time.perf_counter() - t, spans.tree_cpu_s() - c, [traceback.format_exc(limit=3)]
            observations.append(obs)
            return dt, dc, wl.check(obs, observations[0], golden)

        setup_s = t_start = tracer = None
        times, cpu_times, base_times, parts, rows, failed, i = [], [], [], [], 0, 0, 0
        while True:
            if times and wl.may_stop_before(i):
                if args.trace and tracer is None:
                    # the untraced ops so far are the overhead's baseline
                    base_times, times, cpu_times, rows = times, [], [], 0
                    tracer = spans.Tracer(spark, extra_modules=[workloads])
                    tracer.install()
                    t_start = time.perf_counter()
                elif time.perf_counter() - t_start >= args.seconds:
                    break
            if not wl.timed(i):
                _, _, bad = one_op(i)
                problems += [f"untimed op {i}: {p}" for p in bad]
                i += 1
                continue
            if setup_s is None:
                t_start = time.perf_counter()
                setup_s = t_start - T0
            dt, dc, bad = one_op(i, tracer)
            times.append(dt)
            cpu_times.append(dc)
            rows += wl.rows(i)
            if tracer is None and hasattr(wl, "parts"):
                parts.append(wl.parts)
            if bad:
                failed += 1
                problems += [f"op {i}: {p}" for p in bad]
            i += 1

        report = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "input": wl.input_desc, "cores": cores,
            "golden": golden is not None, "setup_s": setup_s,
            "op_s": {"p50": statistics.median(times), "n": len(times), "all": times},
            "op_cpu_s": {"p50": statistics.median(cpu_times), "all": cpu_times},
            "rows_per_s": rows / sum(times),
            "fail_ratio": failed / (len(times) + len(base_times)),
            "problems": problems[:5],
            "observed": observations,
        }
        for k in parts[0] if parts else ():
            report[f"{k}.p50"] = statistics.median(p[k] for p in parts)

        if tracer is not None:
            tracer.uninstall()
            sc = spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            metrics = spans.layer_metrics(tracer, sc, cores, len(times), steps=wl.steps_per_op * len(times))
            if args.workload == "crawl_ingest":
                metrics["streaming.write_amp"] = wl.write_amp(observations[-1])
            overhead = statistics.median(times) / statistics.median(base_times) - 1.0
            metrics["tracing.overhead"] = overhead
            report["tracing"] = {"untraced_op_s": base_times, "overhead": overhead,
                                 "spans": len(tracer.spans)}
            # next to the run's work directory, which is removed at exit
            tracer.dump(os.path.join(os.path.dirname(workdir), f"spans-{args.workload}.jsonl"))
            out_metrics = {k: {"value": v, "unit": spans.unit(k)} for k, v in metrics.items()}
        else:
            out_metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_cpu_s.p50": {"value": statistics.median(cpu_times), "unit": "s"},
            }
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            # the JVM exits once the gateway and its stdin close; wait for
            # it, so no process the run started outlives the run
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        sampler.stop()
    if not args.trace:
        out_metrics["peak_rss_mb"] = {"value": sampler.peak_bytes / 2**20, "unit": "MB"}
    report["peak_rss_mb"] = sampler.peak_bytes / 2**20
    return {"report": report, "result": {
        "correct": not problems,
        "attempted": len(times) + len(base_times),
        "failed": failed,
        "metrics": out_metrics,
    }}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: no deep_db_learning_spark package next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Spark's Python workers import the package too, and every temporary
    # file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # every JVM the run starts (the spark-submit launcher and Spark itself)
    # would otherwise keep a perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    try:
        out = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
