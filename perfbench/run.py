"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is imported from that
checkout; every file the run writes (inputs, staging tables, Spark
local dirs, the event log) lives in a per-run directory under
``.perfbench/`` in the checkout and is removed at exit.

Load model: a closed loop with one client in one process, Spark on
``local[N]`` with N = min(4, nproc). Set-up (session build, history
pre-population through the program, warm-up units) is timed as
``setup_s`` and excluded from the per-unit metrics.

Every end-to-end metric is printed by name with its unit. With
``--trace 0`` the last stdout line carries those ``BENCHMARK.json``
gates on (``end_to_end``); with ``--trace 1`` the same loop runs with spans and the Spark
event log on, and the last line carries the per-layer metrics named in
``BENCHMARK.json``. Tracing overhead is the traced run's
``traced.*`` figures minus the untraced run's end-to-end metrics for
the same workload and seed. Exit code 0 only when every unit ran and
every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
DEADLINE_S = 170  # a run must end within 180 s


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _pin_env(work: str, trace: bool) -> None:
    """Pin the run through the program's own env knobs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap (no resizing that follows the host's speed) and a
        # fixed set of JIT threads: workloads.cpu_seconds subtracts their
        # time, which a compiler thread that exits would take with it.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_EXTRA_CONF": json.dumps(conf),
        "TMPDIR": tmp,
        # every JVM spark-submit starts (its launcher too): no hsperfdata
        # file and no temp files outside the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_MASTER", None)


def _quantile(xs: list[float], p: float) -> float:
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it;
    p50 when the sample is too small for any of them."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return 50


def _peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Ctx:
    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None


def _growth(values: list[float], q: int) -> float:
    """Median of the last ``q`` values over the median of the first ``q``."""
    assert 2 * q <= len(values), "the two sides of a growth ratio must not overlap"
    return statistics.median(values[-q:]) / statistics.median(values[:q])


def end_to_end(w, setup_s: float, build_s: float, measure_s: float, steal_s: float,
               rss_mb: float) -> tuple[dict, list[str]]:
    """Every end-to-end metric of the run, by name, with its unit."""
    units = w.units
    n = len(units)
    kinds = [u.kind for u in units]
    main_kind = max(set(kinds), key=kinds.count)
    gated = units[: w.gated_units]
    same = [u for u in gated if u.kind == main_kind]
    q = w.GROWTH_Q
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(u.seconds for u in units), "s"),
        "latency_growth": (_growth([u.seconds for u in same], q), "ratio"),
        "throughput_rps": (w.input_records / (measure_s - w.overhead_s), "1/s"),
        "cpu_p50_s": (statistics.median(u.cpu_s for u in same), "s"),
        "cpu_growth": (_growth([u.cpu_s for u in same], q), "ratio"),
        "records_per_cpu_s": (sum(u.records for u in gated) / sum(u.cpu_s for u in gated), "1/s"),
        "write_amp": (w.write_amp, "ratio"),
        "space_amp": (w.space_amp, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    p = tail_percentile(n)
    if p > 50:
        m["latency_tail_s"] = (_quantile([u.seconds for u in units], p), "s")
        tail = f"latency_tail_s is p{p} over {n} units"
    else:
        tail = f"latency_tail_s not reported: {n} units, fewer than 20 (no percentile above p50 has 10 units beyond it)"
    notes = [
        f"setup: session build {build_s:.2f} s, pre-population and warm-up {setup_s - build_s:.2f} s",
        f"units={n} kinds={{{', '.join(f'{k}: {kinds.count(k)}' for k in sorted(set(kinds)))}}}",
        "unit wall s: " + " ".join(f"{u.seconds:.2f}" for u in units),
        "unit cpu s:  " + " ".join(f"{u.cpu_s:.2f}" for u in units),
        tail,
        f"gated: the first {len(gated)} units ({w.STEPS} steps); cpu_growth and latency_growth = "
        f"median of the last {q} / first {q} '{main_kind}' units of them",
        f"hypervisor steal during the timed phase: {steal_s:.1f} s over {CPUS} CPUs x {measure_s:.1f} s "
        f"({steal_s / (CPUS * measure_s):.0%}); wall metrics move with it, cpu metrics do not",
        f"input: {w.input_records} records, {w.input_bytes} bytes timed; "
        f"{w.total_input_bytes} bytes landed in total; write_amp and space_amp at the end of the gated steps",
    ]
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, notes


def _per_layer(spec, w, tracer, work, metrics, layer_extra, build_s, gc_s) -> dict:
    """The ``per_layer`` metrics of BENCHMARK.json. A metric of a layer
    this workload exercises that no span recorded is a failed check (a
    wrap that stopped taking effect); metrics of other workloads' layers
    read 0."""
    import layers

    layer_extra["session.build_spark.wall_s"] = build_s
    per_layer = layers.per_layer(
        tracer, os.path.join(work, "eventlog"), metrics, layer_extra, gc_s, len(w.units)
    )
    print(f"{'span (per timed unit)':58s} {'calls':>6s} {'wall_s':>8s} {'self_s':>8s} {'jobs':>6s} {'job_s':>8s} {'driver_s':>8s}")
    for name in sorted(k[:-7] for k in per_layer if k.endswith(".wall_s")):
        row = [per_layer.get(f"{name}.{f}", 0.0) for f in ("calls", "wall_s", "self_s", "jobs", "job_s", "driver_s")]
        print(f"{name:58s} " + " ".join(f"{v:8.3f}" for v in row))
    out, missing = {}, []
    for m in spec["per_layer"]:
        name = m["name"]
        if name not in per_layer:
            if name.startswith(w.LAYERS):
                missing.append(name)
            else:
                print(f"per-layer {name}: not exercised by {w.name}, reported as 0")
        out[name] = {"value": per_layer.get(name, 0.0), "unit": m["unit"]}
    for name in missing:
        print(f"per-layer {name}: no span recorded", file=sys.stderr)
    w.check(f"every per-layer metric of {w.name}'s layers recorded ({len(missing)} missing)", not missing)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "facolos_data_pipelines_spark")):
        _fail(f"program package not found under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        _fail(f"cannot read BENCHMARK.json: {exc}")

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_env(work, bool(args.trace))
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        return _run(args, spec, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, spec, work, workloads) -> int:
    tracer = None
    if args.trace:
        import layers
        import spans

        tracer = spans.Tracer()
        layers.install(tracer)
    ctx = Ctx(args.seed, work, tracer)
    from facolos_data_pipelines_spark import session

    t0 = time.perf_counter()
    ctx.spark = spark = session.build_spark(app_name=f"perfbench-{args.workload}")
    build_s = time.perf_counter() - t0
    w = workloads.WORKLOADS[args.workload](ctx)
    error = None
    try:
        w.setup()
        setup_s = time.perf_counter() - T_START
        gc0 = _gc_seconds(spark)
        t0 = time.perf_counter()
        if tracer:
            tracer.active = True
        steal0 = workloads.steal_seconds()
        w.measure(args.seconds)
        steal_s = workloads.steal_seconds() - steal0
        if tracer:
            tracer.active = False
        measure_s = time.perf_counter() - t0
        gc_s = _gc_seconds(spark) - gc0
        rss = _peak_rss_mb(spark)
        layer_extra = w.layer_metrics() if tracer else {}
        w.verify()
    except Exception as exc:  # noqa: BLE001 — reported below, exit nonzero
        import traceback

        traceback.print_exc(file=sys.stderr)
        error = f"{type(exc).__name__}: {exc}"
    finally:
        _stop(spark)
    if error is not None or not w.units:
        _fail(f"{args.workload} did not complete: {error or 'no timed unit'}", 1)

    metrics, notes = end_to_end(w, setup_s, build_s, measure_s, steal_s, rss)
    if args.trace:
        out = _per_layer(spec, w, tracer, work, metrics, layer_extra, build_s, gc_s)
    else:
        out = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    failed_units = sum(1 for u in w.units if not u.ok)
    failed_checks = sum(1 for _, ok in w.checks if not ok)
    attempted = len(w.units) + len(w.checks)
    failed = failed_units + failed_checks
    for name, ok in w.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}")
    for msg in w.failures:
        print(f"failure: {msg}")
    for note in notes:
        print(note)
    print(f"failed_ratio = {failed}/{attempted} = {failed / attempted:.4f}")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
