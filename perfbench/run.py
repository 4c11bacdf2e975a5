"""Seeded crawl/extract benchmark of website_to_agent_spark.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation runs one workload on
``local[<cores>]``: it sets up (session, seeded inputs, warm-up), runs
timed runs until ``--seconds`` have passed, checks every run's output
outside its timed span, and prints a report whose last stdout line is
one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also runs
traced runs and replay spans and reports the per-layer metrics instead
(spans are written to ``.bench_out/``). Exits non-zero when any output
check fails. See perfbench/README.md for workloads and metric
definitions.
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
# runs that set up again inside one invocation; their median is setup_s's
# repeatable part
LOAD_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is the self-test smoke scale")
    return ap.parse_args(argv)


def storage_bytes(spark) -> int:
    """Bytes of cached RDD blocks held by the executors."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def start_spark(cores: int, work: str):
    from website_to_agent_spark.session import get_spark

    java_tmp = os.path.join(work, "java-tmp")
    os.makedirs(java_tmp, exist_ok=True)
    # every JVM of the run (the spark-submit launcher included) keeps its
    # temp files and perf data inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData")
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start, so the
            # tree's RSS does not depend on when G1 chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Dderby.system.home={work}",
        },
    )


def timed_loop(wl, tracer, seconds, tag, min_runs, max_runs, rss, spark,
               storage_prev):
    """Run, check and release until ``seconds`` have passed. Returns the
    per-run records and the last storage reading."""
    runs = []
    t_start = time.perf_counter()
    while len(runs) < max_runs and (
        len(runs) < min_runs or time.perf_counter() - t_start < seconds
    ):
        run_id = f"{tag}{len(runs)}"
        rec = {"run_id": run_id, "ok": False}
        try:
            rss.active.set()
            result = wl.run(run_id, tracer)
            rss.active.clear()
            rec.update(wall_s=result["wall_s"], pages=result["pages"])
            print(f"run {run_id}: {result['wall_s']:.3f} s", file=sys.stderr)
            errs = wl.check(result)
            wl.release(result)
            st = storage_bytes(spark)
            if st > storage_prev:
                errs.append(f"executor storage grew {storage_prev} -> {st} bytes")
            storage_prev = st
            rec["errors"] = errs
            rec["ok"] = not errs
            rec["result"] = result
        except Exception:
            rss.active.clear()
            rec["errors"] = [traceback.format_exc()]
        for e in rec["errors"]:
            print(f"CHECK FAILED [{run_id}]: {e}", file=sys.stderr)
        runs.append(rec)
    return runs, storage_prev


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the engine under test; absent package -> ImportError, no result
    import website_to_agent_spark  # noqa: F401

    from bench_proc import MemSampler, environment, stop_spark
    from bench_trace import Tracer, summarize
    from bench_workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    env_start = environment(cores, local_dirs, heap)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work, args.scale, cores)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        load_s = []
        # setup_s is not reported by a traced invocation
        for _ in range(1 if args.trace else LOAD_REPEATS):
            t0 = time.perf_counter()
            wl.load()
            load_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + generate_s + statistics.median(load_s) + warm_s

        off = Tracer(spark, enabled=False)
        with MemSampler() as rss:
            runs, st = timed_loop(wl, off, args.seconds, "r", 1, 50, rss, spark,
                                  storage_bytes(spark))
            traced, layers = [], {}
            if args.trace:
                tracer = Tracer(spark, enabled=True)
                traced, st = timed_loop(wl, tracer, 0, "t", 1, 1, rss, spark, st)
                # the tracer's own bookkeeping inside the traced run; a
                # warm untraced twin run would not fit the time limit
                overhead_s = tracer.overhead_s
                if traced[0]["ok"]:
                    layers = wl.layers(traced[0]["result"], tracer)
                    roots = [s for s in tracer.spans if s.parent is None
                             and not s.name.startswith("replay.")]
                    tot = [tracer.totals(s) for s in roots]
                    layers["spark.jobs"] = sum(t["jobs"] for t in tot)
                    layers["spark.tasks"] = sum(t["tasks"] for t in tot)
                    layers["spark.failed_tasks"] = sum(t["failed_tasks"] for t in tot)
                    layers["trace.overhead_share"] = (
                        overhead_s / traced[0]["wall_s"])
                layers["spark.storage_mb_after"] = st / 1e6
                out_dir = os.path.join(ROOT, ".bench_out")
                os.makedirs(out_dir, exist_ok=True)
                tracer.dump(os.path.join(
                    out_dir, f"trace_{args.workload}_s{args.seed}.json"))
            peak_rss = rss.peak
        wl.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    all_runs = runs + traced
    attempted = len(all_runs)
    failed = sum(1 for r in all_runs if not r["ok"])
    good = [r for r in runs if r["ok"]]
    wall = summarize([r["wall_s"] for r in good]) if good else None
    pps = summarize([r["pages"] / r["wall_s"] for r in good]) if good else None

    env_end = environment(cores, local_dirs, heap)
    print(f"workload {args.workload} seed {args.seed} scale {args.scale}: "
          f"{WORKLOADS[args.workload].why}")
    print("env start " + json.dumps(env_start))
    print("env end   " + json.dumps(env_end))
    print(f"setup: session {session_s:.3f}s generate {generate_s:.3f}s "
          f"load {['%.3f' % x for x in load_s]} warm {warm_s:.3f}s")
    if wall:
        print(f"wall_s       median {wall['median']:.4f} s  "
              f"min {wall['min']:.4f} max {wall['max']:.4f}  n={wall['n']}")
        print(f"pages_per_s  median {pps['median']:.2f} 1/s  n={pps['n']}  "
              f"(pages per run: {good[0]['pages']})")
    print(f"setup_s      {setup_s:.4f} s")
    print(f"peak_rss_mb  {peak_rss / 1e6:.1f} MB")
    print(f"failed_ops_share {failed / attempted:.4f}  ({failed}/{attempted} runs)")

    metrics = {}
    if args.trace:
        for name, unit in LAYER_METRICS.items():
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
            print(f"  {name:32s} {metrics[name]['value']:.6g} {unit}")
    elif wall:
        metrics = {
            "wall_s": {"value": wall["median"], "unit": "s"},
            "pages_per_s": {"value": pps["median"], "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
        }
    correct = failed == 0 and bool(good)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
