"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
the seed and sets up a Spark session on ``local[<nproc>]`` with a toy
warm-up job, four times: the first set-up also launches the JVM
(``setup_cold_s``), the other three restart the session in that JVM
(``setup_s`` is their median). One untimed toy pass of the workload then
loads and compiles its plans. The workload's measured passes follow, back
to back within ``--seconds``, and every pass's outputs are checked against
independent references. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
lines before it name every metric with its unit, and the run environment.

Everything it writes stays under ``.perfbench_work/`` in the checkout:
inputs, outputs, Spark scratch space, the run record and the trace.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
PACKAGE = "translator_tm_provider_pipelines_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
#: set-ups per run: the first launches the JVM (setup_cold_s), the others
#: restart the session in it (setup_s is their median). A JVM launch per
#: set-up would double a run's fixed cost on a busy 4-core host.
SETUPS = 4
#: driver heap, well below the RAM of a small box (session.py defaults to 16g)
DRIVER_MEM = "2g"

#: the end-to-end metrics of the result line (BENCHMARK.json's end_to_end)
E2E_UNITS = {
    "setup_s": "s",
    "setup_cold_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "output_mb": "MB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict[str, str]:
    """Pin the core count and driver memory the program reads from its
    environment, and keep every scratch file inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def _source_digest() -> str:
    """Content hash of the program's sources (the checkout need not be a
    git repository)."""
    import hashlib

    h = hashlib.sha1()
    for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_revision() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _environment(spark) -> dict:
    sc = spark.sparkContext
    conf = spark.conf
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": _nproc(),
        "loadavg": list(os.getloadavg()),
        "git_revision": _git_revision(),
        "source_digest": _source_digest(),
        "spark_version": spark.version,
        "driver_memory": conf.get("spark.driver.memory"),
        "confs": {
            k: conf.get(k, None)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.files.maxPartitionBytes",
            )
        },
    }


def _peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def _toy_job(spark, path: str) -> bool:
    """The set-up's warm-up pass on a toy input: a shuffle, a join and a
    parquet round trip, the operations every layer is built from."""
    from pyspark.sql import functions as F

    df = spark.range(4000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    agg = df.groupBy("k").agg(F.sum("v").alias("s"))
    agg.join(df, "k").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count() == 4000


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE}/ package under {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = workloads.fresh_dir(os.path.join(WORK, wl.name))
    extra_conf = configure_env(work)
    inputs = wl.make_inputs(os.path.join(work, "inputs"), args.seed, toy=False)
    toy = wl.make_inputs(os.path.join(work, "toy"), args.seed + 1_000_003, toy=True)

    from translator_tm_provider_pipelines_spark.session import get_spark

    ops = workloads.Ops()
    tracer = tracing.Tracer(enabled=bool(args.trace))
    spark = None
    setup_s, session_s = [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session"):
                spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
            session_s.append(time.perf_counter() - t0)
            ops.check("toy_job", _toy_job(spark, os.path.join(work, "toy_job")))
        setup_s.append(time.perf_counter() - t0)
    # one untimed toy pass of the workload loads and compiles its plans, so
    # that the measured passes run warm
    t0 = time.perf_counter()
    try:
        wl.run_pass(spark, toy, workloads.fresh_dir(os.path.join(work, "toy_out")),
                    tracing.Tracer(enabled=False), ops)
    except workloads.PassAborted:
        pass
    warmup_s = time.perf_counter() - t0
    tracer.spark = spark
    env = _environment(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid

    # closed loop: the workload's fixed number of passes back to back, cut
    # short when the next one would not end within --seconds. A fixed count
    # keeps the median comparable between faster and slower code: passes
    # still get faster as the JIT warms up. A traced run makes untraced,
    # traced, untraced passes; the untraced ones bracket the traced one, so
    # the tracing overhead is not skewed by that warming either.
    walls: dict[bool, list[float]] = {False: [], True: []}
    layer: list[dict[str, float]] = []
    timings: dict[str, list[float]] = {}
    infos: list[dict] = []
    out_dir = os.path.join(work, "out")
    t_start = time.perf_counter()
    schedule = [False, True, False] if args.trace else [False] * wl.passes
    for n, traced in enumerate(schedule):
        if n and not args.trace and (
            time.perf_counter() - t_start + walls[False][-1] > args.seconds
        ):
            break
        pass_tracer = tracer if traced else tracing.Tracer(enabled=False)
        workloads.fresh_dir(out_dir)
        t0 = time.perf_counter()
        try:
            with pass_tracer.span(f"pass{n}") as pass_span:
                res = wl.run_pass(spark, inputs, out_dir, pass_tracer, ops)
        except workloads.PassAborted:
            res = None
        walls[traced].append(time.perf_counter() - t0)
        if res is None:
            break
        infos.append(res.info)
        for k, v in res.timings.items():
            timings.setdefault(k, []).extend(v)
        if traced:
            m = tracer.harvest(spark, pass_span)
            m["trace.uncovered_share"] = tracer.uncovered_share(pass_span)
            m.update({k: v for k, v in res.info.items() if k in tracing.EXTRA_METRICS})
            layer.append(m)

    output_mb = tracing.dir_bytes(out_dir) / tracing.MB
    py_rss_mb, jvm_rss_mb = _peak_rss_mb(jvm_pid)
    wall = statistics.median(walls[False])  # pass 0 is always untraced
    e2e = {
        "setup_s": statistics.median(setup_s[1:]),
        "setup_cold_s": setup_s[0],
        "wall_s": wall,
        "docs_per_s": wl.docs(inputs) / wall,
        "output_mb": output_mb,
    }
    # printed by name and unit but kept out of the result line: failures
    # are the line's failed/attempted; the JVM's peak RSS follows G1's heap
    # sizing and moves by up to 25% between identical runs
    extra_e2e: dict[str, tuple[float, str]] = {
        "ops_failed_frac": (ops.failed / max(ops.attempted, 1), "ratio"),
        "peak_rss_mb": (py_rss_mb + jvm_rss_mb, "MB"),
    }
    if "ingest_batch_s" in timings:
        # the first batch of every pass starts an empty index: not steady state
        per_pass = len(inputs.batches)
        steady = [t for i, t in enumerate(timings["ingest_batch_s"]) if i % per_pass]
        extra_e2e["ingest_batch_p50_s"] = (statistics.median(steady), "s")
        extra_e2e["maintenance_s"] = (statistics.median(timings["maintenance_s"]), "s")
        extra_e2e["index_mb"] = (
            tracing.dir_bytes(os.path.join(out_dir, "index")) / tracing.MB, "MB"
        )

    correct = ops.failed == 0
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "inputs": inputs.props,
        "passes": {"untraced_wall_s": walls[False], "traced_wall_s": walls[True]},
        "setup_s": setup_s,
        "session_s": session_s,
        "warmup_pass_s": warmup_s,
        "peak_rss_mb": {"python": py_rss_mb, "jvm": jvm_rss_mb},
        "timings": timings,
        "info": infos,
        "failures": ops.failures,
        "end_to_end": {**e2e, **{k: v for k, (v, _u) in extra_e2e.items()}},
    }
    print(f"environment: {json.dumps(env, sort_keys=True)}")
    print(f"inputs: {json.dumps(inputs.props, sort_keys=True)}")
    for k, v in e2e.items():
        print(f"metric {k} = {v:.6g} {E2E_UNITS[k]}")
    for k, (v, u) in extra_e2e.items():
        print(f"metric {k} = {v:.6g} {u}")
    for k in ("planted_cluster_recall", "planted_pairs", "reported_pairs", "fused_units_cached"):
        if infos and k in infos[-1]:
            print(f"info {k} = {infos[-1][k]:.6g}")
    for f in ops.failures:
        print(f"FAILED {f}", file=sys.stderr)

    if args.trace:
        names = tracing.per_layer_names()
        metrics = {k: 0.0 for k in names}
        for k in metrics:
            vals = [m[k] for m in layer if k in m]
            if vals:
                metrics[k] = statistics.median(vals)
        metrics["session.wall_s"] = statistics.median(session_s[1:])
        overhead = (
            statistics.median(walls[True]) - wall if walls[True] and walls[False] else 0.0
        )
        metrics["trace.overhead_s"] = overhead
        print(f"info tracing overhead = {overhead:.4g} s "
              f"(traced {walls[True]}, untraced {walls[False]})")
        print(f"info uncovered share of traced wall_s = {metrics['trace.uncovered_share']:.4g}")
        tracer.write(
            os.path.join(WORK, f"trace-{wl.name}-seed{args.seed}.json"),
            {"per_layer": metrics, "per_pass": layer},
        )
        record["per_layer"] = metrics
        result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in names.items()}
    else:
        result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(WORK, f"record-{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    stop_spark(spark)
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
