"""ceres_spark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload render_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each workload (``perfbench/workloads``)
is a closed loop with one client in this process, on Spark
``local[N]`` with N = min(4, nproc). The run sets up its inputs from
``--seed``, measures for ``--seconds`` and at least a workload's
minimum of work (one request cycle, two pipeline passes), checks
its outputs, and prints human-readable lines followed by one JSON
object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics, from spans the benchmark
  records around calls into each layer plus the Spark event log.

The end-to-end metrics are CPU times of the engine (this process, the
Spark JVM and its Python workers; see ``perfbench/cpu.py``):
``cpu_ms_per_op`` is the measured phase's CPU divided by the
operations it completed, ``setup_s`` the CPU seconds of session start,
input generation, tree build and warm-up. Wall-clock latencies and
throughput are still printed, with their sample counts, and kept in
the artifact.

Every artifact (stamps, every named metric with unit and sample count,
the span list in traced runs) is also written to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``. All scratch data
lives under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("render_read", "corpus_dedup")

E2E_UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms"}


def _progress(step: str, seconds: float) -> None:
    print(f"perfbench: {step} {seconds:.2f} s", file=sys.stderr, flush=True)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    its growth over a run tells a noisy host from a slow change."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def _source_id() -> dict:
    """Git SHA when the checkout is a repository, and always a digest
    of the engine's sources (an exported checkout carries no .git)."""
    import hashlib

    sha = None
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ceres_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def _configure_env(work: str, cpus: int, trace: bool) -> str | None:
    """Point every Spark and Python scratch path into ``work`` and pick
    the core count; a traced run also turns on the event log."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    args = [f"--driver-java-options -Djava.io.tmpdir={work}/tmp"]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it is gone."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; waiting below decides
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from ceres_spark.session import get_spark

    from perfbench.cpu import engine_cpu_s
    from perfbench.trace import Tracer, spark_by_group

    cpus = min(4, _nproc())
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = _configure_env(work, cpus, trace)
    stamps = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "master": f"local[{cpus}]", "nproc": _nproc(),
        "loadavg_start": _loadavg(), **_source_id(), **_versions(),
        "steal_s_start": _steal_s(),
        "closed_loop_clients": 1,
    }
    mod = importlib.import_module(f"perfbench.workloads.{workload}")
    spark = None
    try:
        c_start = engine_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}")
        session_s = time.perf_counter() - t0
        _progress("session", session_s)
        tracer = Tracer(trace, spark)
        wl = mod.Workload(spark, seed, work, tracer)
        # the traced run wraps the layers during set-up too, so the
        # writes the set-up makes are attributed; warm-up is not traced
        if trace:
            tracer.install()
        t0 = time.perf_counter()
        with tracer.span("setup"):
            wl.build()
        build_s = time.perf_counter() - t0
        _progress("build", build_s)
        tracer.uninstall()
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        _progress("warm-up", warm_s)
        c_setup = engine_cpu_s()
        if trace:
            tracer.install()
        t_measure = time.perf_counter()
        with tracer.span("measure"):
            wl.run(seconds)
        measure_s = time.perf_counter() - t_measure
        c_measure = engine_cpu_s()
        n_ops = wl.attempted - wl.failed
        _progress("measure", measure_s)
        tracer.uninstall()
        checks = wl.check()
        stamps["inputs"] = wl.sizes()
    finally:
        if spark is not None:
            _stop_spark(spark)
    stamps["loadavg_end"] = _loadavg()
    stamps["steal_s"] = _steal_s() - stamps.pop("steal_s_start")
    e2e = {"setup_s": c_setup - c_start,
           "cpu_ms_per_op": 1000.0 * (c_measure - c_setup) / max(1, n_ops)}
    report = {
        "stamps": stamps,
        "setup": {"session_s": session_s, "build_s": build_s,
                  "warm_up_s": warm_s,
                  "wall_s": session_s + build_s + warm_s},
        "measure_s": measure_s,
        "cpu": {"measure_s": c_measure - c_setup, "ops": n_ops},
        "named": wl.report(),
        "samples_s": wl.lat,
        "checks": checks,
        "e2e": e2e,
    }
    if trace:
        groups = spark_by_group(log_dir)
        layers = wl.layers(groups, measure_s)
        # traced minus untraced cpu_ms_per_op is the tracing overhead
        layers["trace.cpu_ms_per_op"]["value"] = e2e["cpu_ms_per_op"]
        report["layers"] = layers
        report["spans"] = [s.to_json() for s in tracer.spans]
        report["by_name"] = tracer.by_name()
        report["spark_groups"] = groups
    shutil.rmtree(work, ignore_errors=True)
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ceres_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    checks = report["checks"]
    print(f"# {args.workload} seed={args.seed} {report['stamps']['master']} "
          f"nproc={report['stamps']['nproc']} "
          f"inputs={json.dumps(report['stamps']['inputs'])}")
    for name, m in report["named"].items():
        print(f"{name:24s} {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(f"{'setup_wall_s':24s} {report['setup']['wall_s']:.6g} s (n=1)")
    print(f"{'failed_op_frac':24s} {checks['failed'] / checks['attempted']:.6g}"
          f" ratio (n={checks['attempted']})")
    if args.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in report["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in report["e2e"].items()}
    print(json.dumps({
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
