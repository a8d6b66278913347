"""Benchmark of the lakehouse engine: closed-loop workloads, an
untraced run for the end-to-end metrics and a traced run for the
per-layer breakdown.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, untraced then traced

Run it from the root of a checkout. Inputs are generated from the seed
into ``.bench_cache/``; working files, spans, event logs and one JSON
result per run go to ``.bench_out/``. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics untraced, the per-layer metrics traced.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")
PKG = "lakehouse_spark_spark"
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "result_recall": "ratio",
}


def _pin_environment(trace: bool, work: str) -> None:
    """Everything the JVM and its Python workers inherit; set before the
    session is created."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_MEMORY": "1g",
        "TMPDIR": tmp,
        # Arrow Python workers import the engine package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    # -XX:-UsePerfData: the JVM's perf counters file would go to /tmp
    conf = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        # Spark 4.1 compresses event logs with zstd by default; the zstandard
        # module is not available to read them back
        conf += ["--conf", "spark.eventLog.enabled=true", "--conf", f"spark.eventLog.dir=file://{events}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'"{c}"' if " " in c else c for c in conf
    ) + " pyspark-shell"


def _host_probe() -> float:
    """Fixed-work pure-Python loop: the host's Python speed at run time."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i * i
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _environment(spark) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": NPROC,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
        "host_probe_s": _host_probe(),
        "spark_master": spark.sparkContext.master,
        "spark_driver_memory": spark.conf.get("spark.driver.memory"),
    }


def _closed_loop(wl, spark, tracer, seconds: float, exhausted: type) -> dict:
    """``wl.clients`` threads, each sending its next operation when the
    previous one finished, until ``seconds`` have passed or the
    workload's input runs out (``exhausted`` raised)."""
    lock = threading.Lock()
    counter = iter(range(10**9))
    samples: list[tuple[int, float, float, int, bool]] = []
    errors: list[str] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(counter)
            start = time.perf_counter()
            try:
                with tracer.span("op", op=i):
                    units, out = wl.run(spark, i)
                end = time.perf_counter()
                ok = wl.check(i, out)
            except exhausted:
                return
            except Exception:  # an operation that raises counts as failed
                end = time.perf_counter()
                units, ok = 0, False
                with lock:
                    errors.append(traceback.format_exc(limit=4))
            with lock:
                samples.append((i, start, end, units, ok))

    threads = [threading.Thread(target=client, name=f"client{c}") for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    samples.sort()
    wall = max(s[2] for s in samples) - t0
    lat = [s[2] - s[1] for s in samples]
    return {
        "ops": samples,
        "wall_s": wall,
        "latencies": lat,
        "units": sum(s[3] for s in samples if s[4]),
        "failed": sum(not s[4] for s in samples),
        "errors": errors[:3],
    }


def _quantile(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def run_one(name: str, seed: int, seconds: int, trace: bool) -> int:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, Exhausted

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work", f"{name}-s{seed}-t{int(trace)}-{os.getpid()}")
    _pin_environment(trace, work)
    tracer = tr.Tracer(trace)
    wl = WORKLOADS[name](CACHE, work, tracer)

    t = time.perf_counter()
    wl.prepare(seed)
    prepare_s = time.perf_counter() - t
    if trace:
        tr.install(tracer)
    from lakehouse_spark_spark import session

    spark = session.get_session("perfbench")
    proc = spark.sparkContext._gateway.proc
    try:
        tracer.bind(spark)
        session_s = time.perf_counter() - T_PROCESS - prepare_s
        wl.setup(spark)
        # process start to the first timed operation, less input generation
        setup_s = time.perf_counter() - T_PROCESS - prepare_s

        loop = _closed_loop(wl, spark, tracer, seconds, Exhausted)
        env = _environment(spark)
        lat = loop["latencies"]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "throughput_per_s": loop["units"] / loop["wall_s"],
            "peak_rss_mb": _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(proc.pid),
            "result_recall": wl.recall(),
        }
        extras = wl.layer_extras()
    finally:
        wl.teardown()
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)
    attempted = len(lat)
    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "clients": wl.clients, "unit": wl.unit,
        "end_to_end": metrics,
        "op_p90_s": _quantile(lat, 0.9), "samples": attempted,
        "samples_beyond_p90": attempted - int(0.9 * attempted) - 1,
        "failed_ratio": loop["failed"] / attempted,
        "session_s": session_s, "prepare_s": prepare_s,
        "latencies_s": lat, "errors": loop["errors"], "details": wl.details, "environment": env,
    }

    if trace:
        tracer.write(os.path.join(OUT, f"spans-{name}-s{seed}.jsonl"))
        groups = tr.fold_event_log(tr.event_log_files(os.path.join(work, "eventlog")))
        report["per_layer"] = _per_layer(tracer, groups, [str(s[0]) for s in loop["ops"]], extras,
                                         [str(i) for i in getattr(wl, "ann_ops", [])])
        report["per_layer_dropped"] = {}
        if report["per_layer"]["sources.loaders.scan_s"] == 0:
            report["per_layer_dropped"]["sources.loaders.scan_s"] = (
                "Spark 4.1 records scan time only for vectorised parquet scans; none ran here, so it reads 0")
        prior = _load_result(name, seed, 0)
        report["tracing_overhead_op_p50_s"] = (
            metrics["op_p50_s"] - prior["end_to_end"]["op_p50_s"] if prior else None
        )
    shutil.rmtree(work, ignore_errors=True)
    report["process_s"] = time.perf_counter() - T_PROCESS
    _save_result(report)
    _print_report(report)
    if trace:
        out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in report["per_layer"].items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    failed = loop["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics}))
    return 0


# per-layer metric -> (unit, the end-to-end metric and workload it should move)
LAYERS = {
    "session.get_session_s": ("s", "setup_s, every workload"),
    "sources.loaders.scan_s": ("s", "op_p50_s, star_queries"),
    "sources.loaders.scan_mb": ("MB", "op_p50_s, star_queries and medallion_etl"),
    "sources.sinks.write_s": ("s", "op_p50_s, medallion_etl"),
    "sources.sinks.write_mb_per_input_mb": ("ratio", "op_p50_s, medallion_etl"),
    "sources.sinks.append_once_parquet_s": ("s", "op_p50_s, corpus_ingest"),
    "sources.sinks.ledger_files": ("count", "op_p50_s, corpus_ingest"),
    "plans.pipeline.run_pipeline_s": ("s", "op_p50_s, medallion_etl"),
    "plans.queries.build_s": ("s", "op_p50_s, star_queries"),
    "plans.queries.exec_s": ("s", "op_p50_s, star_queries"),
    "operators.annindex.write_ann_index_s": ("s", "setup_s, star_queries"),
    "operators.annindex.topk_s": ("s", "op_p50_s, star_queries, traded against result_recall"),
    "operators.annindex.rows_scanned_per_query": ("count", "op_p50_s, star_queries, traded against result_recall"),
    "operators.sort_s": ("s", "op_p50_s, medallion_etl and star_queries"),
    "operators.agg_build_s": ("s", "op_p50_s, medallion_etl and star_queries"),
    "operators.bloom.load_dedup_index_s": ("s", "op_p50_s, corpus_ingest"),
    "operators.bloom.update_dedup_index_s": ("s", "op_p50_s, corpus_ingest"),
    "operators.neardup.load_neardup_index_s": ("s", "op_p50_s, corpus_ingest"),
    "operators.neardup.update_neardup_index_s": ("s", "op_p50_s, corpus_ingest"),
    "operators.bloom.index_mb": ("MB", "none: space per 1k kept docs, must not grow as ingest speeds up"),
    "operators.neardup.index_mb": ("MB", "none: space per 1k kept docs, must not grow as ingest speeds up"),
    "streaming.ingest.batch_s": ("s", "op_p50_s, corpus_ingest"),
    "streaming.ingest.self_s": ("s", "op_p50_s, corpus_ingest"),
    "spark.jobs_per_op": ("count", "op_p50_s, corpus_ingest and star_queries"),
    "spark.tasks_per_op": ("count", "op_p50_s, corpus_ingest and star_queries"),
    "spark.driver_idle_s": ("s", "op_p50_s, corpus_ingest and star_queries"),
    "spark.executor_cpu_s": ("s", "throughput_per_s, medallion_etl"),
    "spark.shuffle_write_mb": ("MB", "throughput_per_s, medallion_etl"),
    "spark.spill_mb": ("MB", "throughput_per_s, medallion_etl"),
    "spark.fetch_wait_s": ("s", "throughput_per_s, medallion_etl"),
    "spark.gc_s": ("s", "op_p50_s, star_queries"),
}
LAYER_UNITS = {k: u for k, (u, _) in LAYERS.items()}


def _per_layer(tracer, groups: dict, ops: list[str], extras: dict, ann_ops: list[str]) -> dict:
    """Every per-layer metric, as a mean per measured operation; the
    vector-search metrics as a mean per search."""
    from perfbench import trace as tr
    from perfbench.workloads import StarQueries

    m = tr.per_op(tracer.spans, groups, ops, "op")
    ann = tr.per_op(tracer.spans, groups, ann_ops, "op") if ann_ops else {}
    scan_mb = m.get("sources.loaders.scan_mb", 0.0)

    def setup_s(name: str) -> float:
        return sum(s.end_ms - s.start_ms for s in tracer.spans if s.name == name) / 1e3

    values = {
        **{k: m.get(k, 0.0) for k in LAYERS},
        "session.get_session_s": setup_s("session.get_session"),
        "operators.annindex.write_ann_index_s": setup_s("operators.annindex.write_ann_index"),
        "operators.annindex.topk_s": ann.get("operators.annindex.topk_s", 0.0),
        "operators.annindex.rows_scanned_per_query": ann.get("sources.loaders.scan_rows", 0.0) / StarQueries.ANN_QUERIES,
        "sources.sinks.write_s": m.get("sources.sinks.write_parquet_s", 0.0) + m.get("sources.sinks.write_single_csv_s", 0.0),
        "sources.sinks.write_mb_per_input_mb": m.get("spark.output_mb", 0.0) / scan_mb if scan_mb else 0.0,
        "streaming.ingest.self_s": tr.self_time(tracer.spans, "streaming.ingest.batch", ops),
        "spark.jobs_per_op": m.get("spark.jobs", 0.0),
        "spark.tasks_per_op": m.get("spark.tasks", 0.0),
        "spark.executor_cpu_s": m.get("spark.cpu_s", 0.0),
        **extras,
    }
    return {k: values[k] for k in LAYERS}


def _result_path(name: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, "results", f"{name}-s{seed}-t{trace}.json")


def _save_result(report: dict) -> None:
    path = _result_path(report["workload"], report["seed"], report["trace"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)


def _load_result(name: str, seed: int, trace: int) -> dict | None:
    try:
        with open(_result_path(name, seed, trace)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _print_report(r: dict) -> None:
    e = r["end_to_end"]
    lines = [f"# {r['workload']} seed={r['seed']} trace={r['trace']} clients={r['clients']} "
             f"ops={r['samples']} failed_ratio={r['failed_ratio']:.4f} prepare_s={r['prepare_s']:.2f} "
             f"session_s={r['session_s']:.2f} process_s={r['process_s']:.1f}",
             "# environment " + " ".join(f"{k}={v}" for k, v in r["environment"].items())]
    for k, u in END_TO_END.items():
        lines.append(f"  {k:<22} {e[k]:>14.6f} {u}")
    lines.append(f"  {'op_p90_s':<22} {r['op_p90_s']:>14.6f} s "
                 f"({r['samples']} samples, {max(0, r['samples_beyond_p90'])} beyond p90)")
    if r["trace"]:
        for k, v in r["per_layer"].items():
            unit, moves = LAYERS[k]
            lines.append(f"  {k:<42} {v:>14.6f} {unit:<6} -> {moves}")
        for k, why in r["per_layer_dropped"].items():
            lines.append(f"  dropped {k}: {why}")
        ov = r["tracing_overhead_op_p50_s"]
        lines.append("  tracing overhead (traced - untraced op_p50_s): "
                     + (f"{ov:+.6f} s" if ov is not None else "no untraced run of this seed yet"))
    print("\n".join(lines), flush=True)


def run_all(seed: int, seconds: int) -> int:
    """Every workload for one seed, untraced then traced, each in its own
    process (one Spark session per process)."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            rc = subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", name,
                                  "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                                 cwd=ROOT)
            status = status or rc
    return status


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
