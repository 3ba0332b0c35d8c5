#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, with a traced per-layer run.

    python3 perfbench/run.py --workload scene_pipeline|catalog_mix
                             --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. sets up SETUPS times and reports the median as ``setup_s``: first
   cold (imports, JVM launch, session start, the inputs made from the
   seed), then again with the session restarted in the same JVM and the
   inputs made again in a fresh directory;
2. times the first pass over the workload in that fresh session
   (``first_pass_s``), runs one more pass untimed while JIT settles,
   then runs warm passes in a closed loop with one client until
   ``--seconds`` have passed (at least one pass);
3. checks every output against an independent expectation, outside the
   timed region: an exception or a mismatch counts as a failed operation.

With ``--trace 0`` nothing is traced and the last line carries the
end-to-end metrics of BENCHMARK.json. With ``--trace 1`` the timed passes
alternate traced, untraced (two at least); the traced ones give the
per-layer metrics, and their mean wall time minus the untraced ones' is
the tracing overhead. The line before the last is the full report: every metric by
its workload-specific name, the layer self-time table, the host and the
seed. Scratch files live under ``.perfbench_work/`` and are removed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ndvi_etl_pipeline_spark"
SETUPS = 2
# Every span name the workloads record, so that each traced run reports
# the same per-layer metrics (zero where a workload never enters a layer).
SPANS = ("bench.op", "plans.build", "testdata.load_table", "exec.collect",
         "raster.scan_ndvi", "raster.clip", "raster.overviews", "warp.tiled", "sink.write",
         "lake.merge", "lake.read_plan", "lake.read_exec", "lake.maintain")
# Counters only one workload produces, reported as zero by the other.
COUNTS = {"raster.tiles": "count", "raster.decode_mpix_per_s": "Mpix/s", "warp.out_tiles": "count",
          "sink.files_written": "count", "sink.bytes_written": "bytes", "lake.files_live": "count",
          "lake.files_scanned_ratio": "ratio", "lake.dv_rows": "count", "lake.write_amp": "ratio",
          "lake.conflict_retries": "count"}
TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["scene_pipeline", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def tail(samples: list[float]) -> tuple[float | None, str]:
    """Highest of p50/p90/p95/p99/p99.9 with at least TAIL_BEYOND samples
    above it; with fewer samples than p50 needs, the maximum."""
    xs = sorted(samples)
    if not xs:
        return None, "no samples"
    best = (xs[-1], f"max of {len(xs)}")
    for p in (50, 90, 95, 99, 99.9):
        if len(xs) * (1 - p / 100) >= TAIL_BEYOND:
            best = (xs[min(len(xs) - 1, int(len(xs) * p / 100))], f"p{p} of {len(xs)}")
    return best


def peak_rss_mb(pid: int) -> float:
    """Sum of peak resident sets (VmHWM) over the processes below ``pid``:
    the driver JVM and its Python workers (which a JVM thread, not its
    main thread, starts, so every thread's children are followed)."""
    todo, seen, total = [pid], set(), 0
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as f:
                    todo += [int(c) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                pass  # the thread ended; the process's other threads still count
        if p != pid:
            try:
                with open(f"/proc/{p}/status") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
            except (FileNotFoundError, ProcessLookupError, StopIteration):
                pass  # the process ended, or is a zombie without memory
    return total / 1024


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave to
    other guests, which slows every phase of a run alike."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # not a clone; git would search the directories above it
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              cwd=ROOT, timeout=20).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def host_info(spark) -> dict:
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    import pyspark

    driver_mem = conf.get("spark.driver.memory", "1g")
    info = {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_kb / 2**20, 2) if mem_kb else None,
        "python": sys.version.split()[0],
        "java": jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": driver_mem,
        "git_commit": git_commit(),
    }
    heap = jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30
    if mem_kb and heap > mem_kb / 2**20:
        info["note"] = (f"spark.driver.memory={driver_mem} (max heap {heap:.1f} GiB) exceeds "
                        f"this host's {mem_kb / 2**20:.1f} GiB")
    return info


def run_pass(wl, spark, tracer, n) -> tuple[float, list, list]:
    """One closed-loop pass: each operation starts when the previous one
    returned. Returns the pass wall time, [op, seconds, error] per
    operation and (op, output, expected output, that entry) per success."""
    ops, results = [], []
    t_pass = time.perf_counter()
    it = wl.passes(spark, tracer, n)
    while True:
        t_gen = time.perf_counter()
        step = next(it, None)
        t_pass += time.perf_counter() - t_gen  # input preparation is not timed
        if step is None:
            break
        name, fn, expected = step
        tracer.new_op()
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op", tag_jobs=False):
                out = fn()
            err = None
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            out, err = None, f"{name}: {type(e).__name__}: {str(e)[:200]}"
        ops.append([name, time.perf_counter() - t0, err])
        if err is None:
            results.append((name, out, expected, ops[-1]))
    return time.perf_counter() - t_pass, ops, results


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too: temp files in the work dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]
    try:
        return bench(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(work: str):
    from ndvi_etl_pipeline_spark.session import get_spark

    # Only file locations differ from the program's defaults: everything
    # the run writes stays under the work directory.
    return get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    })


def stop_jvm() -> None:
    """Stop the session and the gateway JVM (and with it the Python
    workers), and wait until the JVM has exited."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args, work: str) -> int:
    from tracer import Tracer, self_times  # noqa: E402

    t0 = time.perf_counter()
    import pyspark.sql  # noqa: F401

    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed)  # imports the program's modules
    import_s = time.perf_counter() - t0
    setups, starts, fixtures = [], [], []

    def set_up(k: int, t_begin: float):
        nonlocal spark
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = start_session(work)
        starts.append(time.perf_counter() - t)
        t = time.perf_counter()
        d = os.path.join(work, f"setup{k}")
        wl.setup(spark, d)
        fixtures.append(time.perf_counter() - t)
        setups.append(time.perf_counter() - t_begin)
        if k > 0:
            shutil.rmtree(os.path.join(work, f"setup{k - 1}"), ignore_errors=True)

    spark = None
    steal0, total0 = cpu_times()
    set_up(0, T_START)
    for k in range(1, SETUPS):
        set_up(k, time.perf_counter())
    tracer = Tracer(spark.sparkContext, enabled=False)
    first_s, first_ops, results = run_pass(wl, spark, tracer, 0)
    # JIT is still compiling after the first pass, and how far it has got
    # depends on the host's speed at the time, so one more pass runs
    # before any pass is timed
    settle_s, settle_ops, settle_results = run_pass(wl, spark, tracer, 1)
    results += settle_results
    restore = install_wrappers(tracer) if args.trace else None

    passes, ops, traced_spans = [], [], []  # passes: (seconds, traced)
    t_loop = time.perf_counter()
    n = 2
    while True:
        # traced, untraced, ...: two passes keep a traced catalog run well
        # inside the time a run may take; what trend is left after the
        # settling pass makes the overhead read high, not low
        traced = bool(args.trace) and len(passes) % 2 == 0
        tracer.enabled = traced
        span_start = len(tracer.spans)
        secs, pass_ops, pass_results = run_pass(wl, spark, tracer, n)
        results += pass_results
        passes.append((secs, traced))
        if traced:
            tracer.enabled = False
            tracer.harvest(spark, span_start)
            traced_spans.append((span_start, len(tracer.spans), pass_ops,
                                 wl.layer_counts(spark, pass_results)))
        else:
            ops += pass_ops
        n += 1
        done = time.perf_counter() - t_loop >= args.seconds
        if done and (not args.trace or len(passes) % 2 == 0):
            break
    t_loop_end = time.perf_counter()
    steal1, total1 = cpu_times()
    rss = peak_rss_mb(os.getpid())
    if restore:
        restore()
    info = host_info(spark)
    info["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    all_ops = first_ops + settle_ops + ops + [o for _, _, p, _ in traced_spans for o in p]
    t_check = time.perf_counter()
    errs = wl.check([(name, out, exp) for name, out, exp, _ in results])
    t_check = time.perf_counter() - t_check
    for (name, out, exp, op), err in zip(results, errs):
        if err:
            op[2] = err
    failed = [o[2] for o in all_ops if o[2]]
    for e in failed[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    untraced = [s for s, t in passes if not t]
    warm_op_s = [s for _, s, e in ops if not e]
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": wl.sizes(),
        "host": info,
        "closed_loop": {"clients": 1, "warm_passes": len(untraced), "warm_ops": len(ops)},
    }
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "first_pass_s": (first_s, "s"),
        "pass_p50_s": (statistics.median(untraced), "s"),
        "op_p50_s": (statistics.median(warm_op_s) if warm_op_s else None, "s"),
        "fail_ratio": (len(failed) / max(1, len(all_ops)), "ratio"),
    }
    named, report["tails"] = wl.named_metrics(spark, ops, untraced, tail)
    report["checks"] = getattr(wl, "notes", {})
    e2e.update(named)
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    report["samples"] = {"setup_s": setups, "session.start_s": starts, "setup.inputs_s": fixtures,
                         "warm_pass_s": untraced,
                         "first_pass_ops": [[o[0], o[1]] for o in first_ops],
                         "settle_pass_s": settle_s,
                         "warm_ops": [[o[0], o[1]] for o in ops]}
    layer = {
        "peak_rss_mb": (rss, "MB"),
        "session.import_s": (import_s, "s"),
        "session.start_s": (starts[0], "s"),
        "session.restart_s": (statistics.median(starts[1:]), "s"),
        "setup.inputs_s": (statistics.median(fixtures), "s"),
    }
    if args.trace:
        layer_tab, per_layer, by_op = summarize_trace(tracer, traced_spans, self_times, passes)
        layer.update(per_layer)
        report["layers"] = layer_tab
        report["uncovered_share_by_op"] = by_op
    report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    report["timeline_s"] = {"loop_end": t_loop_end - T_START, "check": t_check,
                            "report": time.perf_counter() - T_START}
    print(json.dumps(report, sort_keys=True))

    names = contract_metrics(args.trace)
    source = layer if args.trace else e2e
    missing = [m for m in names if m not in source]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {m: {"value": source[m][0], "unit": source[m][1]} for m in names},
    }))
    return 0


def contract_metrics(trace: int) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def install_wrappers(tracer):
    """Wrap sources.testdata.load_table, wherever a module of the package
    bound it, in a span; returns the function that undoes it."""
    from ndvi_etl_pipeline_spark.sources import testdata

    orig = testdata.load_table

    def load_table(*a, **kw):
        with tracer.span("testdata.load_table"):
            return orig(*a, **kw)

    patched = [m for name, m in list(sys.modules.items())
               if name.startswith(PACKAGE) and getattr(m, "load_table", None) is orig]
    for m in patched:
        m.load_table = load_table

    def restore():
        for m in patched:
            m.load_table = orig

    return restore


def summarize_trace(tracer, traced_spans, self_times, passes):
    """Layer self-time table and per-layer metrics, per traced pass."""
    spans = tracer.spans
    selfs = self_times(spans)
    n_passes = len(traced_spans)
    table: dict[str, dict] = {}
    stats: dict[str, float] = {}
    devs, skews = [], []
    for lo, hi, pass_ops, counts in traced_spans:
        covered: dict[int, float] = {}  # op id -> self times of its layer spans
        slowest: dict[int, tuple] = {}  # op id -> slowest stage of the op
        for i in range(lo, hi):
            s = spans[i]
            row = table.setdefault(s.name, {"self_s": 0.0, "calls": 0, "exec_jobs": 0})
            row["self_s"] += selfs[i]
            row["calls"] += 1
            row["exec_jobs"] += int(s.stats.get("exec.jobs", 0))
            for k, v in s.stats.items():
                stats[k] = stats.get(k, 0.0) + v
            # bench.op is the benchmark's own code around the layers'
            # spans; counting it would make the sum the op's wall time
            covered[s.op] = covered.get(s.op, 0.0) + (selfs[i] if s.name != "bench.op" else 0.0)
            slowest[s.op] = max(slowest.get(s.op, (0.0, 0.0)), s.slowest_stage)
        skews += [skew for ms, skew in slowest.values() if ms > 0]
        # operations in span order are the pass's operations in loop order
        devs += [(abs(secs - total) / secs, name)
                 for total, (name, secs, _) in zip(covered.values(), pass_ops)]
        for k, v in counts.items():
            stats[k] = stats.get(k, 0.0) + v
    for row in table.values():
        row["self_s"] /= n_passes
        row["calls"] /= n_passes
        row["exec_jobs"] /= n_passes
    traced = [s for s, t in passes if t]
    untraced = [s for s, t in passes if not t]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per = {k: v / n_passes for k, v in stats.items()}
    wall = statistics.median(traced)
    units = {"exec.s": "s", "exec.task_cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s"}
    out = {k: (0.0, u) for k, u in COUNTS.items()}
    for k, v in sorted(per.items()):
        unit = units.get(k) or COUNTS.get(k) or (
            "ms" if k.endswith("_ms") else "bytes" if "bytes" in k else "count")
        out[k] = (v, unit)
    out["exec.cpu_util"] = (per.get("exec.task_cpu_s", 0.0) / (wall * cores), "ratio")
    out["exec.task_skew"] = (statistics.median(skews) if skews else 0.0, "ratio")
    out["trace.overhead_s"] = (statistics.mean(traced) - statistics.mean(untraced), "s")
    # per operation, the share of its wall time in the loop that no layer
    # span covers; ROADMAP's criterion asks for at most 5%
    out["trace.uncovered_max"] = (max(devs)[0], "ratio")
    for name in SPANS:
        row = table.get(name, {"self_s": 0.0, "calls": 0, "exec_jobs": 0})
        out[f"{name}_s"] = (row["self_s"], "s")
        out[f"{name}_calls"] = (row["calls"], "count")
        out[f"{name}_jobs"] = (row["exec_jobs"], "count")
    if per.get("raster.decoded_mpix"):
        out["raster.decode_mpix_per_s"] = (
            per["raster.decoded_mpix"] / table["raster.scan_ndvi"]["self_s"], "Mpix/s")
    by_op = {n: max(d for d, m in devs if m == n) for _, n in devs}
    return table, out, by_op


if __name__ == "__main__":
    sys.exit(main())
