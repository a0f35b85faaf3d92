"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload citibike_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(untimed), starts one ``local[nproc]`` session (one closed-loop client),
sets up, measures whole passes of the workload for about ``--seconds``,
checks outputs outside the timed region, prints every metric by name with
its unit and ends with one JSON line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
reports its per-layer metrics from a traced run (plus one untraced pass,
for the tracing overhead). The full artifact (host, percentiles, check
failures, spans when traced) is written to ``.perfbench/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from workloads import LEGS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
REQUIRED = (
    "citibike_analysis_spark/__init__.py",
    "scripts/scale_rehearsal.py",
    "tests/oracle.py",
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "peak_rss_mb": "MB",
}
SPAN_LAYERS = {  # per-layer metric -> span name whose (self) time it sums
    "sources.load_s": "sources.load",
    "plans.build_s": "plans.build",
    "plans.build_jobs_s": "operators.job",
    "catalyst.s": "catalyst",
    "cache.release_s": "cache.release",
}
COUNTER_LAYERS = (
    "sources.input_mb",
    "plans.build_jobs",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.s",
    "exec.task_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.sql_executions",
    "exec.tasks",
    "exec.busy_ratio",
    "operators.python_mb",
    "operators.exchanges",
    "operators.amplification",
    "cache.persisted_mb",
)
STREAM_FIELDS = (
    "add_batch_ms",
    "query_planning_ms",
    "offsets_ms",
    "commit_ms",
    "state_commit_ms",
    "state_rows",
    "state_mb",
)


def per_layer_names() -> list[str]:
    return (
        ["session.start_s", "streaming.index_maint.build_s"]
        + list(SPAN_LAYERS)
        + list(COUNTER_LAYERS)
        + [f"streaming.{leg}.{f}" for leg in LEGS for f in STREAM_FIELDS]
        + ["share.plans_catalyst", "trace.overhead_s"]
    )


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "amplification")) or name.startswith("share."):
        return "ratio"
    return "count"


def tail(samples: list[float]) -> tuple[float, float]:
    """Value and percentile of the highest order statistic with at least
    ten samples beyond it; the maximum (percentile 100) when that
    statistic would lie below the median, i.e. under 20 samples."""
    s = sorted(samples)
    if len(s) < 20:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields), fields[7]


def host_info() -> dict:
    model, mem_kb = "", 0
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": model,
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg_1m_start": os.getloadavg()[0],
        "cpu_jiffies_start": cpu_jiffies(),
    }


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None


def start_spark(work: str, cores: int):
    from citibike_analysis_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "1g",
            # a fixed-size heap, so peak memory does not follow heap resizing
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def patch_load_table(tracer) -> None:
    """Route every module's ``load_table`` through a ``sources.load`` span."""
    from citibike_analysis_spark.sources import tables

    orig = tables.load_table
    wrapped = tracer.wrap("sources.load", orig)
    for name, mod in list(sys.modules.items()):
        if name.startswith("citibike_analysis_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = wrapped


def layer_metrics(tracer, layers, pass_spans, session_s, overhead_s) -> dict[str, float]:
    import tracing as tr

    passes = []
    for counters, spans in zip(layers.passes, pass_spans):
        selfs = tr.self_times(spans)
        row = dict(counters)
        for metric, span in SPAN_LAYERS.items():
            row[metric] = sum(selfs[s["id"]] for s in spans if s["name"] == span)
        op_s = row.get("op_s", 0.0)
        row["share.plans_catalyst"] = (row["plans.build_s"] + row["catalyst.s"]) / op_s if op_s else 0.0
        passes.append(row)
    build = [s for s in tracer.spans if s["name"] == "streaming.index_maint.build"]
    out = {}
    for name in per_layer_names():
        vals = [p.get(name, 0.0) for p in passes]
        out[name] = statistics.median(vals) if vals else 0.0
    out["session.start_s"] = session_s
    out["streaming.index_maint.build_s"] = build[0]["end"] - build[0]["start"] if build else 0.0
    out["trace.overhead_s"] = overhead_s
    return out


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import tracing as tr
    import workloads

    host = host_info()
    cores = host["nproc"]
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    isolate(work)
    wl = workloads.WORKLOADS[args.workload](args.scale)
    n_passes = wl.passes(args.seconds)
    tracer = tr.Tracer(enabled=bool(args.trace))

    t0 = time.perf_counter()
    gen = wl.generate(work, args.seed, cores, n_passes * (2 if args.trace else 1))
    gen["gen_s"] = time.perf_counter() - t0

    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        if args.trace:
            patch_load_table(tracer)
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t0

        walls, op_log, traced_walls, pass_spans = [], [], [], []
        layers = workloads.Layers() if args.trace else None
        plan = [(p, False) for p in range(n_passes)]
        if args.trace:  # as many untraced passes, in ABBA order, for the overhead
            order = [(False, True) if i % 2 == 0 else (True, False) for i in range(n_passes)]
            plan = list(enumerate(t for pair in order for t in pair))
        with tr.RssSampler() as rss:
            for p, traced in plan:
                tracer.enabled = traced
                first_span = len(tracer.spans)
                t = time.perf_counter()
                ops = wl.run_pass(spark, p, tracer, layers if traced else None)
                (traced_walls if traced else walls).append(time.perf_counter() - t)
                if traced:
                    pass_spans.append(tracer.spans[first_span:])
                else:
                    op_log.extend((kind, p, sec) for kind, sec in ops)
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        wl.check(spark)
        check_s = time.perf_counter() - t0
        wl.cleanup(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    host["loadavg_1m_end"] = os.getloadavg()[0]
    host["loadavg_over_nproc"] = max(host["loadavg_1m_start"], host["loadavg_1m_end"]) > cores
    total, steal = (b - a for a, b in zip(host.pop("cpu_jiffies_start"), cpu_jiffies()))
    host["steal_pct"] = 100.0 * steal / max(1, total)  # CPU time the hypervisor gave to others
    lat = [sec for _, _, sec in op_log]
    tail_v, tail_pct = tail(lat) if lat else (0.0, 0.0)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "op_s_p50": statistics.median(lat) if lat else 0.0,
        "op_s_tail": tail_v,
        "peak_rss_mb": rss.peak / 2**20,
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "host": host,
        "inputs": gen,
        "passes": len(plan),
        "end_to_end": e2e,
        "op_samples": len(lat),
        "op_s_tail_percentile": round(tail_pct, 2),
        "session_start_s": session_s,
        "check_s": check_s,
        "attempted": wl.attempted,
        "failed": min(len(wl.failures), wl.attempted),
        "failures": wl.failures,
        "recall": wl.recall,
        "ops": op_log,
    }
    result["error_rate"] = result["failed"] / max(1, wl.attempted)
    if wl.rows_per_pass:
        result["rows_per_s"] = wl.rows_per_pass / e2e["wall_s"]
    if args.trace:
        overhead = statistics.median(traced_walls) - statistics.median(walls)
        result["traced_wall_s"] = statistics.median(traced_walls)
        result["per_layer"] = layer_metrics(tracer, layers, pass_spans, session_s, overhead)
        result["spans"] = tracer.spans
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("citibike_sql", "corpus_x10", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke test")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing from {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2

    os.makedirs(OUT, exist_ok=True)
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    name = f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(result, f, indent=1, default=str)

    h = result["host"]
    print(f"host: nproc={h['nproc']} SPARK_GRAFT_CPUS={h['SPARK_GRAFT_CPUS']} cpu={h['cpu_model']!r} "
          f"mem={h['mem_gb']}GB loadavg_1m={h['loadavg_1m_start']:.2f}->{h['loadavg_1m_end']:.2f} "
          f"steal={h['steal_pct']:.1f}%"
          + (" LOADAVG_OVER_NPROC" if h["loadavg_over_nproc"] else ""))
    print(f"workload={args.workload} seed={args.seed} passes={result['passes']} "
          f"operations={result['op_samples']} tail=p{result['op_s_tail_percentile']:g}")
    shown = result["per_layer"] if args.trace else result["end_to_end"]
    for k, v in shown.items():
        print(f"  {k:40s} {v:14.6f} {END_TO_END.get(k) or unit_of(k)}")
    if args.trace:
        print(f"  tracing overhead: traced wall {result['traced_wall_s']:.3f} s "
              f"vs untraced {result['end_to_end']['wall_s']:.3f} s")
    print(f"checks: attempted={result['attempted']} failed={result['failed']} "
          f"error_rate={result['error_rate']:.4f}")
    for f in result["failures"]:
        print(f"  FAILED {f}")
    metrics = {k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)} for k, v in shown.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
