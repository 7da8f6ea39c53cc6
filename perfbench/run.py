"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one Spark session at
``local[nproc]``, closed loop with one client: each rep starts after the
previous one ends. A run is a fixed schedule of reps:

- rep 0 is the cold rep (``cold_s``);
- ``warmup_reps`` reps follow whose times are discarded, to get further
  down the JIT warm-up slope where each rep is cheap;
- ``round(seconds / nominal_rep_s)`` timed reps follow (at least one),
  the count that best fills ``--seconds`` at the workload's nominal
  warm-rep time, and ``run_s`` is their median.

The rep count depends only on the arguments, never on the clock. Every
rep tears down what it cached, and its output is checked outside its
timed window. With ``--trace 1`` there are at least four timed reps,
untraced and traced in U T T U order; the per-layer metrics are medians
over the traced ones and ``trace.overhead_ratio`` is the ratio of the
two medians.

``setup_s`` is the time from process start to a ready session. Input
generation and oracle computation come after the session is ready and
are outside every timed window.

The last line of stdout is the result as one JSON object. Everything
else goes to stderr; per-rep details (timings, host steal, checks, fetch
counters) and the span dump go to ``.perfbench_work/results``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)


def _log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _environment(ncpu: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and size the engine to the cores this process may use."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    local = os.path.join(WORK, "spark-local")
    shutil.rmtree(local, ignore_errors=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # a 2g driver heap instead of the package's 8g default: the inputs need
    # far less, and a larger heap lets the JVM's resident set (peak_rss_mb)
    # wander with GC timing on a host whose memory is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def start_session(ncpu: int, *, event_log: str | None = None):
    from clean_census_acs_data_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for
    it to exit. The JVM exits by itself once its stdin closes, but can
    spend seconds in shutdown hooks; after a one-second grace period it
    is killed (its scratch directory is cleared at the next start). The
    Python workers under it exit when it does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=1)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench import host
    from perfbench.census import CensusFaulted
    from perfbench.corpus import CorpusCascade
    from perfbench.trace import Tracer

    workloads = {w.name: w for w in (CensusFaulted, CorpusCascade)}
    if args.workload not in workloads:
        ap.error(f"--workload must be one of {sorted(workloads)}")
    ncpu = host.cpu_count()
    _environment(ncpu)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    event_log = os.path.join(WORK, "eventlog", tag) if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)

    spark = start_session(ncpu, event_log=event_log)
    setup_main = time.time() - T0
    _log(f"session ready in {setup_main:.2f}s at local[{ncpu}]")
    try:
        import pyspark.cloudpickle as cloudpickle
        import perfbench

        cloudpickle.register_pickle_by_value(perfbench)
        tracer = Tracer(spark.sparkContext)
        if args.trace:
            _log(f"tracing {tracer.install()} functions")
        wl = workloads[args.workload](spark, WORK, args.seed, tracer)
        t = time.perf_counter()
        prep = wl.prepare()
        prep["prepare_s"] = time.perf_counter() - t
        _log(f"inputs ready: {json.dumps(prep)[:300]}")

        timed = max(1, round(args.seconds / wl.nominal_rep_s))
        if args.trace:
            # untraced and traced reps in U T T U order, so the reps that
            # still get faster as the JIT warms do not bias the ratio
            timed = max(4, timed + (-timed) % 4)
        reps = []
        rss = 0.0
        warm = wl.warmup_reps
        for r in range(1 + warm + timed):
            kind = "cold" if r == 0 else "warmup" if r <= warm else "timed"
            traced = bool(args.trace) and kind == "timed" and (r - 1 - warm) % 4 in (1, 2)
            tracer.rep = r if traced else None
            busy0, steal0 = host.cpu_times()
            with tracer.span("rep", "bench"):
                t = time.perf_counter()
                state = wl.rep(r)
                wall = time.perf_counter() - t
            busy1, steal1 = host.cpu_times()
            tracer.rep = None
            rss = max(rss, host.peak_rss_mb(os.getpid()))
            chk = wl.check(state)
            rec = {"rep": r, "kind": kind, "traced": traced, "wall_s": wall,
                   "cpu_busy_s": busy1 - busy0, "steal_s": steal1 - steal0,
                   "storage_mb": _storage_mb(spark), **chk}
            if traced and hasattr(wl, "write_files"):
                rec["write_files"] = wl.write_files()
            reps.append(rec)
            _log(f"rep {r} {kind}{' traced' if traced else ''}: {wall:.3f}s "
                 f"steal {rec['steal_s']:.2f}s ok={chk['ok']} {chk['problems'][:2]}")
        probe = wl.probe_pairs() if args.trace and hasattr(wl, "probe_pairs") else {}
    except BaseException:
        stop_session(spark)
        raise
    stop_session(spark)

    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ncpu": ncpu, "setup_s": setup_main, "prepare": prep,
        "reps": reps, "peak_rss_mb": rss,
    }
    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    timed_reps = [r for r in reps if r["kind"] == "timed"]
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        from perfbench import layers

        metrics = layers.per_layer(tracer, event_log, reps, setup_main, probe)
        tracer.dump(os.path.join(results, f"{tag}.spans.json"))
        shutil.rmtree(event_log)
    else:
        run_s = statistics.median(r["wall_s"] for r in timed_reps)
        delivered = sum(r["delivered"] for r in timed_reps) / sum(r["attempted"] for r in timed_reps)
        metrics = {
            "setup_s": (setup_main, "s"),
            "cold_s": (reps[0]["wall_s"], "s"),
            "run_s": (run_s, "s"),
            "items_per_s": (statistics.median(r["items"] for r in timed_reps) / run_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "delivered_share": (delivered, "ratio"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result["timed_samples"] = len(timed_reps)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result["metrics"],
    }))
    return 0


def _storage_mb(spark) -> float:
    """Block-manager bytes (memory + disk) still held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


if __name__ == "__main__":
    sys.exit(main())
