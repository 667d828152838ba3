"""The repository benchmark: seeded, closed-loop, single-client workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads (see README.md):
``catalog_sf0.01`` and ``nca_ingest``.

One run makes its inputs from the seed, starts a Spark session on
``local[<cores>]``, runs an untimed warm-up, then times whole passes: a
catalog run starts a new pass while fewer than ``--seconds`` have gone by;
an ingest run loads a fixed number of publications per ``--seconds``.
Outputs are checked after the timed passes and after the memory peak is
read. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run times one untraced and one traced pass and reports the per-layer
metrics of the traced pass, plus the tracing overhead. The lines before
it carry the environment stamp and the details: sample counts, percentile
levels, and the base of every ratio. A traced run also writes its spans
and counters to ``perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "dbm_nca_ph_etl_spark")
HEAP = "3g"  # the driver JVM's heap, committed in full from the start

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_ms": "ms",
    "plans.construct_ms": "ms",
    "plans.construct_jobs": "count",
    "plans.construct_share": "ratio",
    "operators.exec_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_files": "count",
    "sources.scans_per_table": "ratio",
    "sources.extract_ms": "ms",
    "sources.pages_per_s": "1/s",
    "streaming.batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "sinks.load_batch_ms": "ms",
    "sinks.load_jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_live": "count",
    "sinks.readback_ms": "ms",
    "sinks.store_bytes_per_input_byte": "ratio",
    "nca.dlq_rows": "count",
    "trace.overhead_ratio": "ratio",
}
# Counts fixed by the inputs rather than by the engine's speed: printed
# with the details, not reported as metrics.
INPUT_COUNTS = (
    "sources.pages", "sources.cell_rows", "streaming.batches", "nca.records",
    "nca.allocations",
)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _source_rev() -> dict:
    """The git revision when the checkout is a repository, and always a
    digest of the engine's sources."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        rev = p.stdout.strip() or None
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def _configure(work: str) -> None:
    """Keep every file the run writes inside ``work`` and give Spark's
    Python workers the engine on their import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    sys.path[:0] = [ROOT, HERE]


def _start_spark(work: str, cores: int):
    from dbm_nca_ph_etl_spark.session import get_spark

    # Fixed G1 sizing for a steady memory peak: the whole heap committed
    # from the start (-Xms, equal to the maximum) and a fixed young
    # generation. When G1 grew the heap and the young generation
    # adaptively, peak_rss_mb moved by a fifth between runs of identical
    # inputs; with both fixed, the resident heap follows the regions in use.
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                f" -Xms{HEAP} -Xmn512m",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _op_counters(ctx) -> None:
    """Fold the Spark-side counts of the op just run into the tracer."""
    probe, tr = ctx.probe, ctx.tracer
    probe.drain()
    construct = probe.jobs(f"c:{ctx.op_id}")
    jobs = construct + probe.jobs(f"x:{ctx.op_id}") + ctx.extra_jobs
    tr.add("plans.construct_jobs", len(construct))
    for k, v in probe.job_counts(jobs).items():
        tr.add(f"operators.{k}", v)
    sql = probe.sql_metrics(ctx.first_execution)
    for k in ("shuffle_bytes", "spill_bytes", "python_rows"):
        tr.add(f"operators.{k}", sql.get(k, 0.0))
    for k in ("scan_bytes", "scan_files"):
        tr.add(f"sources.{k}", sql.get(k, 0.0))
    for t, n in sql["scans"].items():
        tr.add(f"scans:{t}", n)


def _measure(args, wl, ctx, tracer, probe) -> dict:
    """The timed passes. Untraced: passes while the workload asks for
    more. Traced: one untraced pass, then one traced pass."""
    null = ctx.tracer
    m = {"latencies": [], "pass_s": [], "traced_pass_s": None, "done": [],
         "errors": {}, "pages": 0}
    start = time.perf_counter()
    k = 0
    while (k < 2) if args.trace else wl.more(time.perf_counter() - start, args.seconds):
        traced = args.trace and k == 1
        ctx.tracer, ctx.probe = (tracer, probe) if traced else (null, None)
        t_pass = time.perf_counter()
        for label, fn in wl.pass_ops(k):
            ctx.op_id += 1
            ctx.extra_jobs = []
            if traced:
                ctx.first_execution = probe.executions()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op", label):
                    fn(ctx)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                m["errors"][ctx.op_id] = f"{label}: {exc!r}"[:300]
            dt = time.perf_counter() - t0
            m["done"].append(ctx.op_id)
            if traced:
                _op_counters(ctx)
            else:
                m["latencies"].append((label, dt))
                m["pages"] += wl.pages(label)
        elapsed = time.perf_counter() - t_pass
        if traced:
            m["traced_pass_s"] = elapsed
        else:
            m["pass_s"].append(elapsed)
        k += 1
    ctx.tracer, ctx.probe = null, None
    return m


def _peak_rss_mb() -> dict[str, float]:
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    return {"python": _hwm_mb(os.getpid()), "jvm": _hwm_mb(jvm.pid) if jvm is not None else 0.0}


def run(args, work: str) -> tuple[dict, dict]:
    import spans
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    inputs = wl.prepare(work, args.seed, args.seconds)
    gen_s = time.perf_counter() - t

    null = spans.NullTracer()
    tracer = spans.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    with (tracer if args.trace else null).span("session.get_spark"):
        spark = _start_spark(work, cores)
    try:
        probe = spans.SparkProbe(spark) if args.trace else None
        ctx = Ctx(spark, null, None)
        wl.warmup(ctx)
        setup_s = time.perf_counter() - T0 - gen_s
        m = _measure(args, wl, ctx, tracer, probe)
        rss = _peak_rss_mb()
        env = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "nproc": cores,
            "spark": spark.version,
            "python": platform.python_version(),
            **_source_rev(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "inputs": inputs,
            "input_gen_s": round(gen_s, 3),
        }
        fin = wl.finish(ctx)
    finally:
        wl.stop()
        _stop_spark(spark)

    done, pass_s = m["done"], m["pass_s"]
    failed = len(set(done) & (set(m["errors"]) | fin["failed"]))
    untraced_pass = statistics.median(pass_s)
    detail = {
        "ops": len(done),
        "pass_s": [round(p, 3) for p in pass_s],
        "failed_ratio": f"{failed}/{len(done)}",
        "errors": m["errors"],
        "problems": fin["problems"],
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
    }
    if not args.trace:
        lat = [dt for _, dt in m["latencies"]]
        metrics = {
            "setup_s": setup_s,
            "pass_s": untraced_pass,
            "op_p50_ms": percentile(lat, 50) * 1000,
            "peak_rss_mb": sum(rss.values()),
        }
        # too few ops for a percentile above the median with ten samples
        # beyond it, so the slowest op is shown but not reported as a metric
        detail["op_max_ms"] = max(lat) * 1000
        by_label: dict[str, list[float]] = {}
        for label, dt in m["latencies"]:
            by_label.setdefault(label, []).append(dt)
        if len(by_label) < len(lat):  # catalog: a median per query
            detail["op_p50_ms_by_query"] = {
                k: round(statistics.median(v) * 1000, 1) for k, v in sorted(by_label.items())
            }
        if m["pages"]:
            detail["nca_pages_per_s"] = m["pages"] / sum(pass_s)
        units = END_TO_END
    else:
        metrics, bases = _layers(tracer, fin, untraced_pass, m["traced_pass_s"], m["pages"])
        detail["bases"] = bases
        units = PER_LAYER
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(HERE, "traces", f"{tracer.run_id}.json"),
            {"env": env, "metrics": metrics, "bases": bases},
        )
    result = {
        "correct": failed == 0 and not fin["problems"] and not m["errors"],
        "attempted": len(done),
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    return {"env": env, "detail": detail}, result


def _layers(tracer, fin: dict, untraced_s: float, traced_s: float, pages: int):
    own = tracer.self_ms()
    c = tracer.counters
    construct = own.get("plans.construct", 0.0)
    execute = own.get("operators.exec", 0.0)
    scans = {k[6:]: v for k, v in c.items() if k.startswith("scans:")}
    m = {
        "session.start_ms": tracer.total_ms("session.get_spark"),
        "plans.construct_ms": construct,
        "plans.construct_jobs": c["plans.construct_jobs"],
        "plans.construct_share": construct / (construct + execute) if execute else 0.0,
        "operators.exec_ms": execute,
        "sources.scans_per_table": sum(scans.values()) / len(scans) if scans else 0.0,
        "sources.extract_ms": own.get("sources.extract", 0.0),
        "sources.pages_per_s": pages / untraced_s if pages else 0.0,
        "sinks.load_batch_ms": tracer.total_ms("sinks.load_batch"),
        "trace.overhead_ratio": traced_s / untraced_s - 1,
    }
    for k in ("operators.jobs", "operators.stages", "operators.tasks",
              "operators.shuffle_bytes", "operators.spill_bytes", "operators.python_rows",
              "sources.scan_bytes", "sources.scan_files", "sources.pages",
              "sources.cell_rows", "streaming.batches", "streaming.batch_ms",
              "streaming.overhead_ms", "sinks.load_jobs", "sinks.bytes_written"):
        m[k] = c.get(k, 0.0)
    m.update(fin.get("layers", {}))
    bases = {
        "plans.construct_share": f"{construct:.1f} ms construct / "
        f"{construct + execute:.1f} ms construct+exec over the traced pass",
        "sources.scans_per_table": f"{sum(scans.values()):.0f} scans / "
        f"{len(scans)} tables {dict(sorted(scans.items()))}",
        "sources.pages_per_s": f"{pages} pages / {untraced_s:.3f} s untraced pass",
        "trace.overhead_ratio": f"traced pass {traced_s:.3f} s / untraced pass "
        f"{untraced_s:.3f} s - 1",
        "self_ms": {k: round(v, 1) for k, v in sorted(own.items())},
        "counts": {k: m.pop(k, 0.0) for k in INPUT_COUNTS},
        **fin.get("bases", {}),
    }
    return m, bases


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _configure(work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
