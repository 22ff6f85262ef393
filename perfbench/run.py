"""pipit_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload trace --seed 1 --seconds 1 --trace 0

Run from the repository root. The run

1. starts a Spark session pinned to ``local[min(4, nproc)]`` with fixed
   shuffle partitions, JVM memory and hash seed, whatever the caller's
   environment holds;
2. generates the workload's inputs from ``--seed`` and computes the
   expected results without the library (``expected.py``);
3. runs the first pass, then warm passes while ``--seconds`` have not
   passed since it started; every pass redoes all data work, times every
   library call and checks every result;
4. prints one context line (load average, versions, cores, seed, input
   sizes, pass times) and, last, ``{"correct", "attempted", "failed",
   "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` a traced pass follows, with spans around every call and
the session's counters read, and the metrics are the per-layer ones
(see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import expected  # noqa: E402
from probe import (  # noqa: E402
    Ops, RssSampler, SparkCounters, Tracer, cpu_ticks, descendants,
    steal_share, tree_cpu_s,
)
from workloads import WORKLOADS  # noqa: E402

MAX_CORES = 4
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "first_pass_cpu_s": "s",
              "peak_rss_mb": "MB"}
# per-layer metric → unit; a layer a workload does not use reads 0
PER_LAYER = {
    "session.start_s": "s", "generate.s": "s",
    "otf2.read_s": "s", "otf2.events": "count",
    "matching.match_s": "s", "matching.unmatched": "count",
    "matching.max_depth": "count",
    "trace.checkpoint_write_s": "s", "trace.checkpoint_mb": "MB",
    "trace.checkpoint_files": "count", "trace.open_s": "s",
    "trace.time_stats_s": "s",
    "profile.flat_profile_s": "s", "profile.load_imbalance_s": "s",
    "profile.time_profile_s": "s", "profile.caller_callee_s": "s",
    "profile.idle_time_s": "s", "profile.slow_calls_s": "s",
    "comm.comm_matrix_s": "s", "comm.message_latency_s": "s",
    "comm.late_senders_s": "s", "comm.wait_attribution_s": "s",
    "comm.comm_over_time_s": "s", "comm.messages": "count",
    "cct.cct_s": "s", "cct.nodes": "count",
    "pipeline.clean_corpus_s": "s", "pipeline.docs_kept": "count",
    "dedup.minhash_lsh_s": "s", "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_pairs": "count", "dedup.ngram_pairs": "count",
    "text.bm25_s": "s",
    "similarity.lsh_topk_s": "s", "similarity.ivf_topk_s": "s",
    "similarity.rrf_fuse_s": "s", "similarity.results": "count",
    "similarity.recall_at_k": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "jvm.gc_s": "s", "python.init_s": "s", "python.run_s": "s",
    "tracing.overhead_pct": "%",
}


def _pin_environment(work: str) -> None:
    """Make the session independent of the caller's environment: drop the
    library's SPARK_GRAFT_* overrides, keep Spark's scratch space inside
    the work directory, and let Python workers import the library from
    the repository root without PYTHONPATH being set by the caller."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp


def start_session(work: str, cores: int):
    sys.path.insert(0, ROOT)
    from pipit_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="pipit-spark-benchmark",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.default.parallelism": str(cores),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    Python worker it started to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = descendants(os.getpid())
        if not alive:
            return
        if time.time() > deadline - 10:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def traced_pass(spark, ops, wl, args) -> dict[str, float]:
    """One warm pass with spans around every call and the session's
    counters read for it alone. Returns its per-layer values and the
    tracing overhead: the time spent opening and closing spans as a
    share of the pass."""
    tracer = Tracer()
    counters = SparkCounters(spark, "traced-pass")
    ops.tracer = tracer
    counters.start()
    pass_s = wl.run_pass(spark, ops, traced=True)
    out = counters.stop()
    ops.tracer = None
    out.update(wl.layers)
    out["tracing.overhead_pct"] = 100.0 * tracer.own_s / pass_s
    tracer.dump(os.path.join(
        HERE, "_work", f"spans-{args.workload}-{args.seed}.json"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pipit_spark", "__init__.py")):
        print(f"pipit_spark not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    load_start = os.getloadavg()
    run_ticks = cpu_ticks()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)

    ops = Ops()
    ops.check("expected_self_test", lambda _x: expected.self_test(), True)
    wl = WORKLOADS[args.workload](work, args.seed)
    layers: dict[str, float] = {}
    spark = None
    try:
        with RssSampler() as rss:
            ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            session_s = time.perf_counter() - t0
            versions = {"spark": spark.version, "java": spark.sparkContext
                        ._jvm.System.getProperty("java.version")}
            t0 = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - t0
            setup_steal = steal_share(ticks0, cpu_ticks())
            marks = {"generated": time.perf_counter() - T0}
            wl.prepare(spark, ops)
            marks["prepared"] = time.perf_counter() - T0

            # the first pass always runs; warm passes follow while
            # --seconds have not passed since it started
            t_measure = time.perf_counter()
            ticks0 = cpu_ticks()
            cpu0 = (tree_cpu_s(os.getpid()), rss.cpu_s, ops.check_cpu_s)
            first = wl.run_pass(spark, ops)
            first_cpu = (tree_cpu_s(os.getpid()) - cpu0[0]
                         - (rss.cpu_s - cpu0[1])
                         - (ops.check_cpu_s - cpu0[2]))
            first_steal = steal_share(ticks0, cpu_ticks())
            marks["first_pass"] = time.perf_counter() - T0
            warm = []
            while time.perf_counter() - t_measure < args.seconds:
                warm.append(wl.run_pass(spark, ops))
            marks["warm_passes"] = time.perf_counter() - T0
            if args.trace:
                layers.update(traced_pass(spark, ops, wl, args))
            layers["session.start_s"] = session_s
            layers["generate.s"] = gen_s
            # stop inside the sampler: the JVM's exit is part of the run
            t0 = time.perf_counter()
            stop_session(spark)
            stop_s = time.perf_counter() - t0
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": (session_s + gen_s) * (1.0 - setup_steal),
            "first_pass_s": first * (1.0 - first_steal),
            "first_pass_cpu_s": first_cpu,
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    for e in ops.errors:
        print(e, file=sys.stderr)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "host_cpus": os.cpu_count(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "steal_pct": {"setup": 100.0 * setup_steal,
                      "first_pass": 100.0 * first_steal,
                      "run": 100.0 * steal_share(run_ticks, cpu_ticks())},
        "python": platform.python_version(), **versions,
        "sizes": wl.sizes(), "quality": wl.quality,
        "session_s": session_s, "generate_s": gen_s,
        "first_pass_wall_s": first, "first_pass_cpu_s": first_cpu,
        "sampler_cpu_s": rss.cpu_s, "check_cpu_s": ops.check_cpu_s,
        "warm_pass_s": warm, "stop_s": stop_s,
        "wall_marks": {**marks, "end": time.perf_counter() - T0},
        "call_s": {k: [round(x, 3) for x in v]
                   for k, v in ops.seconds.items()},
        "errors": len(ops.errors),
    }
    print("context " + json.dumps(context))
    print(json.dumps({"correct": ops.correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
