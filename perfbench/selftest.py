"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py [workload ...]

Run from the root of a checkout. For every workload it runs one toy pass,
which must pass all output checks, then a second toy pass whose output is
tampered with before the checks, which must be reported as a failed
operation. It also checks that the generator is deterministic in its
seed and that the texts avoid the constructs on which the staged and the
fused concept filters disagree. Exits 0 when everything holds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import gen, run, tracing, workloads  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha1()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _check_generator(work: str) -> list[str]:
    from translator_tm_provider_pipelines_spark.operators import conceptfilters as cf

    problems = []
    for wl in workloads.WORKLOADS.values():
        a, b = (os.path.join(work, f"det_{wl.name}_{i}") for i in (0, 1))
        wl.make_inputs(a, 7, toy=True)
        wl.make_inputs(b, 7, toy=True)
        if _tree_digest(a) != _tree_digest(b):
            problems.append(f"{wl.name}: same seed, different inputs")
        shutil.rmtree(a)
        shutil.rmtree(b)
    import pyarrow.parquet as pq

    inputs = gen.make_chain_inputs(os.path.join(work, "gen_chain"), 3, 50)
    terms = pq.read_table(inputs.dictionary).column("term").to_pylist()
    stop = set(cf.DEFAULT_STOPWORDS)
    bad = [t for t in terms if len(t) < 4 or t in stop or any(c in t for c in "()[]{}")]
    if bad:
        problems.append(f"dictionary terms the staged and fused filters treat differently: {bad[:5]}")
    return problems


def main(argv: list[str]) -> int:
    names = argv or list(workloads.WORKLOADS)
    work = workloads.fresh_dir(os.path.join(run.WORK, "selftest"))
    extra_conf = run.configure_env(work)
    from translator_tm_provider_pipelines_spark.session import get_spark

    problems = _check_generator(work)
    spark = get_spark(app_name="perfbench-selftest", extra_conf=extra_conf)
    try:
        for name in names:
            wl = workloads.WORKLOADS[name]
            inputs = wl.make_inputs(os.path.join(work, name, "inputs"), 11, toy=True)
            out = os.path.join(work, name, "out")
            for tamper in (None, workloads.TAMPERS[name]):
                ops = workloads.Ops()
                tracer = tracing.Tracer(spark=spark)
                res = None
                try:
                    with tracer.span("pass") as pass_span:
                        res = wl.run_pass(spark, inputs, workloads.fresh_dir(out), tracer, ops, tamper)
                except workloads.PassAborted:
                    pass
                layer = tracer.harvest(spark, pass_span)
                label = f"{name} {'tampered' if tamper else 'clean'}"
                print(f"{label}: attempted {ops.attempted}, failed {ops.failed}, "
                      f"{len(layer)} per-layer values")
                if tamper is None and ops.failed:
                    problems.append(f"{label}: {ops.failures}")
                if tamper is not None and not ops.failed:
                    problems.append(f"{label}: tampered output passed the checks")
                if res is not None and res.info.get("fused_units_cached") is False:
                    problems.append(f"{label}: the fused composition did not reuse the cached "
                                    "unit relation, so it parses and recognizes twice")
                if tamper is None and not any(v > 0 for k, v in layer.items() if k.endswith(".jobs")):
                    problems.append(f"{label}: the tracer attributed no Spark job to a layer")
    finally:
        run.stop_spark(spark)
    for p in problems:
        print(f"PROBLEM {p}")
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
