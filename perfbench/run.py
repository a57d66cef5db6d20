"""sparksent benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md in this directory for why each exists and for the
layer -> metric -> workload map):

- ``topology_drain``: the eight reference streams drain a fixed backlog
  of wire lines on one file-replay source;
- ``registry``: a fixed list of registry queries, two Python-bound and two
  JVM-bound, in an order picked by the seed.

The run generates its inputs from the seed inside the checkout, sets up
Spark and warms up the timed code paths (``setup_s``), repeats timed
passes for ``--seconds``, checks the outputs outside the timed window and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, alternating untraced and traced passes so that the
tracing overhead is measured in the same process. Every run also writes
an artifact with the box, all samples and, when traced, every span to
``.perfbench_out/`` at the checkout root. A human-readable summary goes
to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_per_pass_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.warmup_s": "s",
    "driver.construct_s": "s",
    "exec.wait_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_s": "s",
    "jvm.gc_ms": "ms",
    "mem.pss_mb": "MB",
    "mem.peak_pss_mb": "MB",
    "op.p50_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "box.sentinel_s": "s",
    "box.py_sentinel_s": "s",
    "trace.overhead_pct": "%",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import ``sparksent`` whatever the working directory is."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: temp files in the work
    # directory, no perf-data files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


def box() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _stop(spark, procs) -> None:
    """Stop Spark, then wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    pids = [procs.jvm_pid, *procs.descendants()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _sentinels(spark) -> dict[str, float]:
    """The repo's own box-health probes (bench.py), one repetition each."""
    from pyspark.sql.functions import xxhash64

    import bench

    bench.SPARK, bench.F_xxhash64 = spark, xxhash64
    return {"sentinel_s": bench._sentinel_once(), "py_sentinel_s": bench._py_sentinel_once()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparksent", "__init__.py")):
        _log(f"no sparksent package next to {HERE}; run from a full checkout")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _prepare_env()

    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    run = argparse.Namespace(work=WORK, tracer=harness.Tracer(enabled=bool(args.trace)),
                             spark=None)
    wl = workloads.WORKLOADS[args.workload](run)
    t0 = time.perf_counter()
    wl.make_inputs(args.seed)
    gen_s = time.perf_counter() - t0

    tr = run.tracer
    with tr.span("setup"):
        with tr.span("session.get_spark"):
            t0 = time.perf_counter()
            from sparksent.session import get_spark

            run.spark = spark = get_spark("perfbench")
            get_spark_s = time.perf_counter() - t0
        procs = harness.ProcTree(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        procs.start_sampling()
        t0 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START - gen_s

    boxp = _sentinels(spark) if args.trace else {}
    jobs = harness.Jobs(spark.sparkContext)

    passes = []
    procs.samples = []
    steal0 = harness.steal_share()
    t_window = time.perf_counter()
    min_passes = 2 if args.trace else 1
    while len(passes) < min_passes or time.perf_counter() - t_window < args.seconds:
        # traced runs alternate: untraced, traced, untraced, ...
        tr.enabled = bool(args.trace) and len(passes) % 2 == 1
        c0 = procs.cpu()
        res = wl.run_pass()
        c1 = procs.cpu()
        rec = {"traced": tr.enabled, "wall_s": res.wall_s, "construct_s": res.construct_s,
               "wait_s": res.wait_s, "ops": res.ops, "failed": res.failed,
               "op_ms": res.op_ms, "cpu": harness.cpu_delta(c0, c1),
               "detail": res.detail}
        if args.trace:
            rec["jobs"] = jobs.count(res.groups)
            rec["jobs_by_group"] = {g: jobs.count([g]) for g in res.groups}
        passes.append(rec)
        _log(f"pass {len(passes)}: {res.wall_s:.3f} s, {res.failed}/{res.ops} failed"
             f"{' (traced)' if tr.enabled else ''}")
    tr.enabled = bool(args.trace)
    mem_samples, procs.samples = procs.samples, None
    steal1 = harness.steal_share()
    boxp["steal_pct"] = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    t0 = time.perf_counter()
    n_checked, wrong = wl.check()
    check_s = time.perf_counter() - t0
    extras = wl.traced_extras() if args.trace else {}
    if args.trace:
        boxp.update({f"{k}_post": v for k, v in _sentinels(spark).items()})
    procs.stop_sampling()
    gc_ms = harness.gc_ms(spark)  # the whole run: a short pass may see no collection

    attempted, failed = harness.tally(passes, n_checked, wrong)
    med = statistics.median
    op_ms = [x for p in passes for x in p["op_ms"]]
    e2e = {
        "setup_s": setup_s,
        "pass_s": med(p["wall_s"] for p in passes),
        "cpu_per_pass_s": med(sum(p["cpu"].values()) for p in passes),
    }
    layers = {}
    if args.trace:
        plain = [p["wall_s"] for p in passes if not p["traced"]]
        traced = [p["wall_s"] for p in passes if p["traced"]]
        layers = {
            "session.get_spark_s": get_spark_s,
            "setup.warmup_s": warmup_s,
            "driver.construct_s": med(p["construct_s"] for p in passes),
            "exec.wait_s": med(p["wait_s"] for p in passes),
            "cpu.jvm_s": med(p["cpu"]["jvm"] for p in passes),
            "cpu.pyworker_s": med(p["cpu"]["pyworker"] for p in passes),
            "cpu.driver_s": med(p["cpu"]["driver"] for p in passes),
            "jvm.gc_ms": gc_ms,
            "mem.pss_mb": med(mem_samples) / 2**20,
            "mem.peak_pss_mb": procs.peak_mem / 2**20,
            "op.p50_ms": med(op_ms) if op_ms else 0.0,
            "spark.jobs": med(p["jobs"]["jobs"] for p in passes),
            "spark.stages": med(p["jobs"]["stages"] for p in passes),
            "spark.tasks": med(p["jobs"]["tasks"] for p in passes),
            "box.sentinel_s": boxp["sentinel_s"],
            "box.py_sentinel_s": boxp["py_sentinel_s"],
            "trace.overhead_pct": 100 * (med(traced) - med(plain)) / med(plain),
        }
    table = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": table[k], "unit": units[k]} for k in units}

    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box(), "input_gen_s": gen_s, "check_s": check_s,
        "correct": not wrong, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "wrong": wrong,
        "mem_pss_mb": med(mem_samples) / 2**20, "peak_pss_mb": procs.peak_mem / 2**20,
        "mem_samples": len(mem_samples), "gc_ms": gc_ms,
        "end_to_end": e2e, "per_layer": layers, "extras": extras, "box_probes": boxp,
        "op_latency_ms": harness.describe(op_ms), "passes": passes,
    }
    if args.trace:
        summary["self_s"] = harness.self_times(tr.spans)
        summary["spans"] = tr.spans
    os.makedirs(OUT, exist_ok=True)
    out_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, default=str)

    for k, unit in END_TO_END.items():
        _log(f"{k:>20} = {e2e[k]:.4f} {unit}")
    lat = summary["op_latency_ms"]
    _log(f"{'op latency':>20} = " + ", ".join(
        f"{k} {v:.1f} ms" for k, v in lat.items() if k != "n") + f" (n={lat['n']})")
    _log(f"{'failed_frac':>20} = {failed}/{attempted}; wrong outputs: {wrong or 'none'}")
    _log(f"{'box steal':>20} = {boxp['steal_pct']:.2f} % of CPU time during the timed passes")
    for k, v in layers.items():
        _log(f"{k:>20} = {v:.4f} {PER_LAYER[k]}")
    _log(f"input generation {gen_s:.2f} s, check {check_s:.2f} s; artifact: {out_path}")

    wl.close()
    _stop(spark, procs)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
