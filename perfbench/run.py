"""Benchmark of the anomaly_detection_spark engine.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  The run pins its environment (Spark
cores, driver heap, local dirs, hash seed, time zone), re-executes itself
under it, and keeps every corpus, index and state directory under a
per-run directory that starts empty.  It sets the workload up once
(untimed: the first set-up in a fresh JVM pays for loading and compiling
the code), runs a round of warm-up operations, then runs the workload's
operation mix in a closed loop for at least ``--seconds`` seconds and
checks the answers after the loop.  Last, with the JVM warm, it sets the
workload up ``SETUP_REPS`` more times into fresh directories; ``setup_s``
is the median.

The loop runs whole rounds (one pass over the mix each) until
``--seconds`` have passed.  A run therefore holds only a few samples of
each operation kind, so latency is reported as ``p50_geomean_ms``: the
geometric mean of the kinds' median latencies.  It assumes no traffic share between kinds,
and a change of one kind's median by a given factor moves it by the same
amount, however fast or slow that kind is.  Unlike a percentile of the
pooled samples it cannot jump between the latency modes of different
kinds when a run gets one sample more or less.  With fewer than ten
samples per kind no higher percentile is reported; the per-kind medians
are printed beside the result.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are
its per-layer metrics, measured with spans and counters around every call
into the program (see tracing.py).  The line before it lists the run's
environment and the workload's own named results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# timed set-ups, made once the JVM is warm; the first set-up of a run
# loads and compiles the generator and writer and costs several times more
SETUP_REPS = 3
DRIVER_MEM = "2g"
MAX_CPUS = 4

# per-layer metric -> unit
PER_LAYER = {
    "session.jobs_per_op": "count", "session.tasks_per_op": "count",
    "session.failed_tasks": "count", "session.gc_ms_per_op": "ms",
    "session.cpu_ms_per_op": "ms", "session.cpu_util": "cores",
    "data.generate_ms": "ms", "data.docids_ms": "ms",
    "functions.tokenize_turns_per_s": "1/s",
    "functions.decode_postings_per_s": "1/s",
    "index.build_ms": "ms", "index.append_ms": "ms", "index.segments": "count",
    "index.postings_bytes": "bytes", "index.jobs_per_build": "count",
    "index.merge_ms": "ms", "index.merge_bytes_rewritten": "bytes",
    "index.segments_after_merge": "count",
    "index_search.plan_ms": "ms", "index_search.exec_ms": "ms",
    "index_search.fetch_ms": "ms", "index_search.jobs_per_query": "count",
    "planner.compile_ms": "ms", "planner.search_ms": "ms",
    "aggs.plan_ms": "ms", "aggs.exec_ms": "ms", "aggs.buckets": "count",
    "sources.load_table_ms": "ms", "features.feature_matrix_ms": "ms",
    "detector.tick_ms": "ms", "detector.state_bytes_written": "bytes",
    "detector.entities_scored": "count",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def run_dir_for(args) -> str:
    return os.path.join(ROOT, ".perfbench_runs",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")


def pin_environment(args) -> None:
    """Re-execute under the pinned environment unless already pinned.

    PYTHONHASHSEED only takes effect at interpreter start, hence the exec.
    """
    if os.environ.get("PERFBENCH_PINNED") == "1":
        return
    run_dir = run_dir_for(args)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = dict(os.environ,
               PERFBENCH_PINNED="1",
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=os.path.join(run_dir, "tmp"),
               PYTHONHASHSEED="0",
               TZ="UTC",
               PYTHONPATH=ROOT,
               # keep the JVM's scratch files (native libraries, artifact
               # dirs, perf data) out of /tmp
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp "
                                 "-XX:-UsePerfData")
    sys.stdout.flush()
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
              + sys.argv[1:], env)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(tracer, wl, micro: dict) -> dict[str, float]:
    from tracing import median0

    ops = tracer.timed_ops()
    n = max(1, len(ops))
    wall = sum(o["wall_ms"] for o in ops)
    cpu = sum(o["cpu_ms"] for o in ops)

    def med(name, phase="timed"):
        return median0(tracer.durations_ms(name, phase))

    m = {
        "session.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "session.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "session.failed_tasks": sum(o["failed_tasks"] for o in ops),
        "session.gc_ms_per_op": sum(o["gc_ms"] for o in ops) / n,
        "session.cpu_ms_per_op": cpu / n,
        "session.cpu_util": cpu / wall if wall else 0.0,
        "data.generate_ms": med("data.generate", "setup"),
        "data.docids_ms": med("data.docids", "setup"),
        "index.build_ms": med("index.build"),
        "index.append_ms": med("index.append"),
        "index.jobs_per_build": median0(
            [o["jobs"] for o in tracer.timed_ops(("build",))]),
        "index.merge_ms": med("index.merge"),
        "index_search.plan_ms": med("index_search.plan"),
        "index_search.exec_ms": med("index_search.exec"),
        "index_search.fetch_ms": med("index_search.fetch"),
        "index_search.jobs_per_query": median0(
            [o["jobs"] for o in ops if o["kind"] in getattr(wl, "bodies", ())]),
        "planner.compile_ms": med("planner.compile"),
        "planner.search_ms": med("planner.search"),
        "aggs.plan_ms": med("aggs.plan"),
        "aggs.exec_ms": med("aggs.exec"),
        "aggs.buckets": median0(tracer.op_counts("aggs.buckets")),
        "sources.load_table_ms": med("sources.load_table"),
        "features.feature_matrix_ms": med("features.feature_matrix"),
        "detector.tick_ms": med("detector.tick"),
        "detector.state_bytes_written": median0(
            tracer.op_counts("detector.state_bytes_written")),
        "detector.entities_scored": median0(
            tracer.op_counts("detector.entities_scored")),
    }
    m.update(wl.layer_counts())
    m.update(micro)
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


def p50_geomean(samples: dict[str, list[float]]) -> float:
    return statistics.geometric_mean(
        statistics.median(v) for v in samples.values())


def drift(order: list[tuple[int, str, float]], n_rounds: int):
    """``p50_geomean_ms`` over the last quarter of the rounds divided by
    that over the first quarter, - 1: a warm-up leaking into the timed
    loop shows as a large negative.  None with fewer than four rounds."""
    q = n_rounds // 4
    if q == 0:
        return None

    def part(rounds) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r, kind, ms in order:
            if r in rounds:
                out.setdefault(kind, []).append(ms)
        return out

    first, last = part(range(q)), part(range(n_rounds - q, n_rounds))
    kinds = set(first) & set(last)
    return (p50_geomean({k: last[k] for k in kinds})
            / p50_geomean({k: first[k] for k in kinds}) - 1)


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "anomaly_detection_spark")):
        print(f"perfbench: no anomaly_detection_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    pin_environment(args)

    run_dir = run_dir_for(args)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    sys.path.insert(0, ROOT)

    from anomaly_detection_spark.session import get_spark
    from proc import PeakPss
    from tracing import Tracer
    from workloads import WORKLOADS, check_fingerprint

    with PeakPss() as pss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        jvm_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, bool(args.trace))
            tracer.patch()
            wl = WORKLOADS[args.workload](spark, args.seed, run_dir, tracer)

            tracer.phase = "cold"
            t0 = time.perf_counter()
            wl.setup(os.path.join(run_dir, "data"))
            first_setup_s = time.perf_counter() - t0
            check_fingerprint(spark, args.seed, wl.corpus)
            wl.prepare()

            tracer.phase = "warmup"
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0

            tracer.phase = "timed"
            attempted = failed = 0
            order: list[tuple[int, str, float]] = []
            rounds_s: list[float] = []
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < args.seconds:
                t_round = time.perf_counter()
                for kind, fn in wl.round():
                    with tracer.op(kind) as counts:
                        t0 = time.perf_counter()
                        try:
                            fn(counts)
                            ok = True
                        except Exception:  # a failed operation is a result
                            traceback.print_exc()
                            ok = False
                        ms = (time.perf_counter() - t0) * 1e3
                    attempted += 1
                    if ok:
                        wl.record(kind, ms)
                        order.append((len(rounds_s), kind, ms))
                        wl.after(kind, counts)
                    else:
                        failed += 1
                rounds_s.append(time.perf_counter() - t_round)
            timed_s = time.perf_counter() - t_start

            tracer.phase = "check"
            t0 = time.perf_counter()
            try:
                failed += wl.verify()
            except Exception:
                traceback.print_exc()
                failed += 1
            verify_s = time.perf_counter() - t0
            micro = wl.micro() if args.trace else {}

            tracer.phase = "setup"
            setup_times = []
            for rep in range(SETUP_REPS):
                d = os.path.join(run_dir, f"setup{rep}")
                t0 = time.perf_counter()
                wl.setup(d)
                setup_times.append(time.perf_counter() - t0)
                shutil.rmtree(d)
        finally:
            stop_spark(spark)

    if not wl.samples:
        raise SystemExit("perfbench: no operation succeeded")
    if {kind for kind, _ in wl.round()} - set(wl.samples):
        failed += 1  # a kind without one good sample cannot be measured
    e2e = {
        "p50_geomean_ms": p50_geomean(wl.samples),
        "setup_s": statistics.median(setup_times),
        "peak_pss_mb": pss.peak_mb,
        "index_bytes_per_text_byte": wl.index_bytes_per_text_byte(),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {k: os.environ[k] for k in (
            "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
            "PYTHONHASHSEED", "TZ")},
        "jvm_start_s": jvm_s, "first_setup_s": first_setup_s,
        "setup_reps_s": setup_times,
        "warmup_s": warmup_s, "timed_s": timed_s, "verify_s": verify_s,
        "samples": len(order),
        "samples_by_kind": {k: len(v) for k, v in wl.samples.items()},
        "kind_p50_ms": {k: statistics.median(v) for k, v in wl.samples.items()},
        "samples_ms": wl.samples,
        "rounds_s": rounds_s,
        "error_rate": failed / max(1, attempted),
        "first_vs_last_quarter": drift(order, len(rounds_s)),
        "end_to_end": e2e,
        "details": wl.details(),
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in layer_metrics(tracer, wl, micro).items()}
        trace_path = os.path.join(
            ROOT, ".perfbench_runs",
            f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {k: {"value": v, "unit": u} for (k, v), u in zip(
            e2e.items(), ("ms", "s", "MB", "ratio"))}
    shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench " + json.dumps(info, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
