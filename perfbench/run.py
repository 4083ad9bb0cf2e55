"""The repository benchmark: one seeded, closed-loop workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 12 --trace 0

It generates the workload's inputs from ``--seed`` under
``.perfbench_work/``, starts a ``local[nproc]`` Spark session sized from
the host, runs the workload's warm-up ops, then drives ops from a
single client thread for ``--seconds`` seconds and checks every op's
output against the generator's truth.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the detail (host facts, tail percentile, failure share,
input-synthesis time).  ``--trace 1`` records spans around every call
into the program, runs the per-layer probes and reports the per-layer
metrics instead of the end-to-end ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402

# Input sizes per workload.  The two workloads in BENCHMARK.json are
# sized so that one run, set-up included, ends in about a minute on a
# 4-core host; pcap_scan is heavier and is run by hand (README.md).
SIZES = {
    "pcap_scan": {"n_packets": 100_000},
    "pcap_stream_ingest": {"n_files": 4, "per_file": 5000},
    "corpus_dedup": {"n_docs": 1000},
}

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "items_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ok_op_ratio": "ratio",
}

LAYERS = ("pcap", "sources", "operators", "functions", "streaming")
OPERATORS = ("flow_stats", "dedup_exact", "minhash_lsh_pairs", "repetition_signals", "cosine_topk_indexed")
PER_LAYER = {
    "pcap.decode_ip_pkts_per_s": "pkt/s",
    "pcap.decode_dns_pkts_per_s": "pkt/s",
    "pcap.index_mb_per_s": "MB/s",
    "sources.plan_s": "s",
    "sources.scan_full_s": "s",
    "sources.scan_pruned_s": "s",
    "sources.tasks_per_scan": "count",
    **{f"operators.{op}.{m}": u for op in OPERATORS
       for m, u in (("build_s", "s"), ("run_s", "s"), ("exchanges", "count"))},
    "operators.minhash.verified_over_candidates": "ratio",
    "operators.minhash.recall": "ratio",
    "operators.ann.recall_at_k": "ratio",
    "functions.text_quality_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.data_batches_over_batches": "ratio",
    **{f"{layer}.self_s_per_op": "s" for layer in LAYERS},
    **{f"{layer}.calls": "count" for layer in LAYERS},
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(work: str, cores: int, driver_mb: int):
    from pyspark.sql import SparkSession

    dirs = {k: os.path.join(work, k) for k in ("spark-local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", dirs["spark-local"])
        .config("spark.sql.warehouse.dir", dirs["warehouse"])
        # the heap is committed and touched at its full size up front, so
        # resident memory does not follow GC timing and repeats run to run
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def warm_up(wl) -> list:
    """The workload's warm-up ops, checked like any other; one outcome each."""
    outcomes = []
    for i in range(wl.warmup_ops):
        try:
            wl.prepare(i)
            wl.verify(i, wl.op(i))
            outcomes.append(True)
        except Exception:
            log(f"warm-up op {i} failed:\n{traceback.format_exc()}")
            outcomes.append(False)
    return outcomes


def run_ops(wl, first: int, seconds: float, monitor, tracer, trace: bool) -> dict:
    """The closed loop from op ``first``: ``prepare`` (untimed), ``op``
    (timed), ``verify`` (untimed; a mismatch or an exception fails the
    op).  In a traced run every other op is traced, so the traced and
    untraced medians come from the same process, and the loop runs at
    least one of each."""
    ops = []
    deadline = time.perf_counter() + seconds
    t_loop = time.perf_counter()
    i = first
    while True:
        tracer.op_id = i
        tracer.enabled = trace and (i - first) % 2 == 0
        rec = {"op": i, "traced": tracer.enabled, "ok": False, "latency_s": 0.0, "cpu_s": 0.0}
        ops.append(rec)
        try:
            wl.prepare(i)
            c0, t0 = monitor.cpu(), time.perf_counter()
            try:
                out = wl.op(i)
            finally:
                rec["latency_s"], rec["cpu_s"] = time.perf_counter() - t0, monitor.cpu() - c0
            wl.verify(i, out)
            rec["ok"] = True
        except Exception:
            log(f"op {i} failed:\n{traceback.format_exc()}")
        i += 1
        if time.perf_counter() >= deadline and (not trace or i - first >= 2):
            break
    tracer.enabled = trace
    return {"ops": ops, "window_s": time.perf_counter() - t_loop}


def end_to_end(wl, loop: dict, setup_s: float, peak_rss: int) -> tuple:
    ops = loop["ops"]
    lat = [o["latency_s"] for o in ops]
    tail, pct, beyond = measure.tail(lat)
    n_ok = sum(o["ok"] for o in ops)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": measure.median(lat),
        "latency_tail_s": tail,
        "items_per_s": n_ok * wl.items_per_op / loop["window_s"],
        "cpu_s_per_op": measure.median([o["cpu_s"] for o in ops]),
        "peak_rss_mb": peak_rss / 2**20,
        "ok_op_ratio": n_ok / len(ops),
    }
    detail = {"latency_tail_percentile": pct, "latency_tail_samples_beyond": beyond,
              "latency_samples": len(lat), "op_latencies_s": lat, "failed_op_ratio": 1 - n_ok / len(ops)}
    return metrics, detail


def per_layer(wl, loop: dict, tracer, probes: dict) -> dict:
    traced = {o["op"] for o in loop["ops"] if o["traced"]}
    untraced = [o["latency_s"] for o in loop["ops"] if not o["traced"]]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(probes)
    for op in OPERATORS:
        for part in ("build", "run"):
            d = tracer.durations(f"operators.{op}.{part}", traced)
            if d:
                out[f"operators.{op}.{part}_s"] = measure.median(d)
    tq = [b + r for b, r in zip(tracer.durations("functions.text_quality.build", traced),
                                tracer.durations("functions.text_quality.run", traced))]
    if tq:
        out["functions.text_quality_s"] = measure.median(tq)
    if hasattr(wl, "stream_metrics"):
        out.update(wl.stream_metrics(traced))
    selfs = tracer.self_times()
    for s, st in zip(tracer.spans, selfs):
        layer = s["name"].split(".", 1)[0]
        if layer in LAYERS:
            out[f"{layer}.calls"] += 1
            if s["op"] in traced:
                out[f"{layer}.self_s_per_op"] += st / len(traced)
    if traced and untraced:
        t_lat = [o["latency_s"] for o in loop["ops"] if o["traced"]]
        out["trace.overhead_s"] = measure.median(t_lat) - measure.median(untraced)
    return out


def run(args, root: str, work: str, t_start: float) -> tuple:
    import workloads

    tracer = measure.Tracer(bool(args.trace))
    cores, mem_mb = measure.nproc(), measure.mem_total_mb()
    facts = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "nproc": cores, "mem_total_mb": mem_mb, "driver_memory_mb": measure.driver_memory_mb(mem_mb),
             "python": platform.python_version(), "loadavg_start": measure.loadavg(),
             "sizes": SIZES[args.workload]}
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer, **SIZES[args.workload])
    with measure.TreeMonitor() as monitor:
        t = time.perf_counter()
        wl.synthesize()
        synth_s = time.perf_counter() - t
        spark = start_session(work, cores, facts["driver_memory_mb"])
        try:
            import pyspark

            facts["spark"] = pyspark.__version__
            facts["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            wl.spark = spark
            tracer.op_id = "setup"
            wl.setup()
            checks = warm_up(wl)
            setup_s = time.time() - t_start - synth_s
            stat0 = measure.cpu_times()
            loop = run_ops(wl, wl.warmup_ops, args.seconds, monitor, tracer, bool(args.trace))
            steal = measure.steal_share(stat0, measure.cpu_times())
            probes = {}
            if args.trace:
                tracer.op_id = "probe"
                try:  # probes check their outputs too
                    probes = wl.probes()
                    checks.append(True)
                except Exception:
                    log(f"per-layer probes failed:\n{traceback.format_exc()}")
                    checks.append(False)
            wl.close()
        finally:
            stop_session(spark)
        peak = monitor.peak_rss
    e2e, detail = end_to_end(wl, loop, setup_s, peak)
    detail.update(facts, synth_s=synth_s, steal_share=steal, loadavg_end=measure.loadavg(),
                  warmup_ok=all(checks[:wl.warmup_ops]), end_to_end=e2e)
    if args.trace:
        metrics, units = per_layer(wl, loop, tracer, probes), PER_LAYER
        detail["span_calls"] = _span_calls(tracer)
        _write_spans(root, args, tracer)
    else:
        metrics, units = e2e, END_TO_END
    result = summarize(metrics, units, loop["ops"], checks)
    return result, detail


def summarize(metrics: dict, units: dict, ops: list, checks: list) -> dict:
    """The result line.  ``checks`` are the outcomes of the other checked
    steps (the warm-up ops, the traced run's probes): each counts as
    attempted, and as failed when its output was wrong."""
    failed = sum(not o["ok"] for o in ops) + sum(not ok for ok in checks)
    return {
        "correct": failed == 0,
        "attempted": len(ops) + len(checks),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _span_calls(tracer) -> dict:
    calls: dict = {}
    for s in tracer.spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    return calls


def _write_spans(root: str, args, tracer) -> None:
    out = os.path.join(root, ".perfbench_work", "spans")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(tracer.spans, f)


def main(argv=None) -> int:
    t_start = measure.process_start_time()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_pcap_spark", "__init__.py")):
        log("hadoop_pcap_spark/ not found: run from the repository root")
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result, detail = run(args, root, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
