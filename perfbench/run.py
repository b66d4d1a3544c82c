"""Benchmark driver: one workload, one seed, one local Spark session.

    python3 perfbench/run.py --workload serve_resident --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # self-test: every workload, tiny inputs

Run from the repository root. The lines before the last one are the
report: environment, host calibration, every named metric with its unit
and sample count, and the failing output checks. The last line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or its per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "lucene_solr_spark")
DRIVER_MEM = "4g"


def _pin_environment(work: str) -> None:
    """Explicit driver memory (the session default is 48g), the checkout on
    the Python workers' path, and every temp dir inside the checkout."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                          "-XX:-UsePerfData"),  # no /tmp/hsperfdata
    }


def _calibrate() -> dict:
    """Fixed pure-Python and numpy kernels: host speed context, not gated."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    py_ms = (time.perf_counter() - t0) * 1000.0
    a = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    np.sort(a)
    np_ms = (time.perf_counter() - t0) * 1000.0
    return {"python_loop_ms": round(py_ms, 3), "numpy_sort_ms": round(np_ms, 3)}


def _environment(cores: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(PACKAGE)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {
        "nproc": os.cpu_count(), "cores_used": cores, "driver_mem": DRIVER_MEM,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "git_commit": commit,
        "package_sha256": h.hexdigest()[:16],
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pct(xs: list[float], p: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


def _finish(run, spark, spec: dict, session_s: float) -> tuple[dict, list[str]]:
    """Metrics for the result line, and the report lines."""
    from perfbench.workloads import jvm_hwm_mb, vm_hwm_mb

    lines = []
    jvm_mb = jvm_hwm_mb(spark)
    e2e = {
        "setup_s": session_s + statistics.median(run.setup_passes) + run.warmup_s,
        "op_ms": run.op_time_ms(),
        "driver_rss_mb": run.driver_rss_mb,
    }
    counts = {"setup_s": len(run.setup_passes), "op_ms": sum(map(len, run.per_op.values())),
              "driver_rss_mb": 1}
    lines.append(f"  session_s = {session_s:.3f} s; setup passes (s) = "
                 + ", ".join(f"{x:.3f}" for x in run.setup_passes)
                 + f"; warm-up after the passes {run.warmup_s:.3f} s"
                 + f"; driver peak rss over the process {vm_hwm_mb('self'):.0f} MB")
    lines.append("  phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in run.phases.items()))
    lines.append(f"  op_ms: geometric mean of the medians of {len(run.per_op)} operation kinds; "
                 + ", ".join(f"{k} {statistics.median(v):.1f} ms n={len(v)}"
                             for k, v in list(run.per_op.items())[:4])
                 + (", ..." if len(run.per_op) > 4 else ""))
    for m in spec["end_to_end"]:
        lines.append(f"  {m['name']:<24} {e2e[m['name']]:>14.4f} {m['unit']:<8} n={counts[m['name']]}")
    lines.append(f"  {'ops_per_s':<24} {len(run.op_ms) / (sum(run.op_ms) / 1000.0):>14.4f} "
                 f"{'1/s':<8} n={len(run.op_ms)}")
    lines.append(f"  {'peak_rss_mb':<24} {run.driver_rss_mb + jvm_mb:>14.4f} {'MB':<8} n=1"
                 f" (driver over the measured phase + JVM VmHWM {jvm_mb:.0f} MB)")
    for name, xs in sorted(run.named.items()):
        if name.startswith("shape."):
            continue
        unit = run.units[name]
        if name == "query_p50_ms":
            lines.append(f"  {name:<24} {statistics.median(xs):>14.4f} {unit:<8} n={len(xs)}")
            # the highest percentile with at least ten samples beyond it
            if len(xs) >= 100:
                lines.append(f"  {'query_p90_ms':<24} {_pct(xs, 90):>14.4f} {unit:<8} n={len(xs)}")
            elif len(xs) >= 20:
                p = int(100 * (1 - 10 / len(xs)))
                lines.append(f"  {'query_p%d_ms' % p:<24} {_pct(xs, p):>14.4f} {unit:<8} n={len(xs)}"
                             " (p90 needs 100 samples)")
            lines.append(f"  {'queries_per_s':<24} {len(xs) / (sum(xs) / 1000.0):>14.4f} "
                         f"{'1/s':<8} n={len(xs)}")
        else:
            lines.append(f"  {name:<24} {statistics.median(xs):>14.4f} {unit:<8} n={len(xs)}")
    failed = len(run.failures)
    lines.append(f"  {'ops_failed_ratio':<24} {failed / run.attempted:>14.4f} "
                 f"{'ratio':<8} n={run.attempted} ({failed} failed)")
    for f in run.failures[:50]:
        lines.append(f"    FAILED: {f}")
    if failed > 50:
        lines.append(f"    ... and {failed - 50} more")

    if not run.traced:
        return e2e, lines
    import numpy as np

    from perfbench.trace import Tracer

    for name, xs in run.named.items():
        if name.startswith("shape."):
            run.layers[f"query.shape_p50_ms.{name[6:]}"] = statistics.median(xs)
    # tracing overhead: spans recorded x the cost of one empty span
    probe = Tracer()

    class _Box:
        @staticmethod
        def f():
            return None

    probe.wrap(_Box, "f", "probe")
    t0 = time.perf_counter()
    for _ in range(20_000):
        _Box.f()
    per_span_s = (time.perf_counter() - t0) / 20_000
    probe.close()
    busy_s = sum(run.op_ms) / 1000.0
    run.layers["trace.overhead_pct"] = 100.0 * len(run.tracer.spans) * per_span_s / busy_s
    layer = {}
    for m in spec["per_layer"]:
        v = float(run.layers.get(m["name"], 0.0))
        layer[m["name"]] = v if np.isfinite(v) else 0.0
        lines.append(f"  {m['name']:<40} {layer[m['name']]:>16.4f} {m['unit']}")
    return layer, lines


def run_workload(spark, cores: int, name: str, seed: int, seconds: float, traced: bool,
                 work: str, size: str, spec: dict, session_s: float):
    from perfbench.workloads import WORKLOADS, Run

    run = Run(spark, cores, seed, seconds, traced, os.path.join(work, name), size)
    try:
        WORKLOADS[name](run)
    finally:
        if run.tracer:
            run.tracer.close()
    metrics, lines = _finish(run, spark, spec, session_s)
    return run, metrics, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test: every workload at tiny size, traced and untraced")
    args = ap.parse_args(argv)

    t_process = time.perf_counter()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(PACKAGE) or not os.path.isfile(spec_path):
        print(f"perfbench: run from a checkout holding lucene_solr_spark/ and BENCHMARK.json "
              f"(looked in {ROOT})", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"run_{os.getpid()}")
    _pin_environment(work)
    from lucene_solr_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    if args.smoke:
        todo = [(n, t) for n in WORKLOADS for t in (False, True)]
        seed, seconds, size = 424242, 1.0, "smoke"
    else:
        if args.workload not in WORKLOADS or args.seed is None or args.seconds is None:
            shutil.rmtree(work, ignore_errors=True)
            ap.error(f"--workload ({'/'.join(WORKLOADS)}), --seed and --seconds are required")
        todo = [(args.workload, bool(args.trace))]
        seed, seconds, size = args.seed, args.seconds, "full"

    cores = min(4, os.cpu_count() or 1)
    calib = [_calibrate()]
    spark = None
    ok = True
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, extra_conf=_spark_conf(work))
        session_s = time.perf_counter() - t0
        env = _environment(cores)
        results = []
        for name, traced in todo:
            run, metrics, lines = run_workload(spark, cores, name, seed, seconds, traced,
                                               work, size, spec, session_s)
            results.append((name, traced, run, metrics, lines))
        calib.append(_calibrate())
    except Exception:
        traceback.print_exc()
        ok = False
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    if not ok:
        return 1

    print(f"perfbench seed={seed} seconds={seconds} size={size} "
          f"wall_s={time.perf_counter() - t_process:.1f}")
    print("  environment: " + json.dumps(env, sort_keys=True))
    print("  calibration (start, end): " + json.dumps(calib))
    for name, traced, run, metrics, lines in results:
        print(f"workload {name} trace={int(traced)} ops={len(run.op_ms)} "
              f"measured_s={run.measure_s:.2f}")
        print("\n".join(lines))
    if args.smoke:
        bad = [(n, t) for n, t, run, m, _ in results
               if run.failures or len(m) != len(spec["per_layer" if t else "end_to_end"])]
        print("smoke: " + ("PASS" if not bad else f"FAIL {bad}"))
        return 0 if not bad else 1
    _, _, run, metrics, _ = results[0]
    unit = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
