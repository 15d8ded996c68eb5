"""The repository's benchmark of record.

    python3 perfbench/run.py --workload {panel_build,query_mix}
        --seed N --seconds S --trace {0,1} [--size {bench,tiny}]

Run from the root of a checkout. One driver process on
``local[<cpus>]`` and one closed-loop client: the next operation starts
when the previous one has finished. An operation is one panel build
(``panel_build``) or one query (``query_mix``, run in rounds of the
whole mix).

A run generates (or reuses) the seeded inputs and sets the session up
three times: first in a fresh JVM, then twice more after stopping the
session. A build is timed from its first, cold run, which is what the
one-shot ETL job pays. The query mix is interactive: each query first
runs once, cold, against its DuckDB oracle, and then the warm rounds are
timed. Operations run until ``--seconds`` have passed, always finishing
the one in progress, and the last outputs are checked. With
``--trace 0`` the run reports the end-to-end metrics. With
``--trace 1`` it runs a traced, an untraced and a traced operation. The
first gives the per-layer metrics and the last pair gives the tracing
overhead (see perfbench/README.md).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it is the full record: host envelope, versions, input
properties, sample counts, error rate and check messages.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3


def host_envelope() -> dict:
    """Pin the Spark host settings to this machine before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gib = max(1, min(4, int(mem_gib // 4)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gib}g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # every JVM the launcher starts keeps its temporary files in the
        # checkout and writes no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    return {"cpus": cpus, "mem_gib": round(mem_gib, 1), "driver_memory": f"{driver_gib}g",
            "python": platform.python_version()}


def spark_conf() -> dict:
    return {
        # progress bars interleave with the result line on stdout
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def warm_up(spark) -> None:
    """First job, Arrow ingest and the Python worker pool, so that no
    timed operation pays a once-per-session cost."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    def _ident(x):
        return x * 1.0

    _ident.__annotations__ = {"x": pd.Series, "return": pd.Series}
    ident = pandas_udf(_ident, "double")

    n = spark.sparkContext.defaultParallelism
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame(pd.DataFrame({"a": ["x"] * 10})).count()
    spark.range(n * 10).repartition(n).select(ident(col("id").cast("double"))).count()


def setup(session) -> tuple:
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=spark_conf())
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks so far; steal is time the hypervisor gave
    this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        line = next(ln for ln in fh if ln.startswith("VmHWM:"))
    return int(line.split()[1]) / 1024.0


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(spans: list[dict], cpus: int) -> dict:
    """Totals over the spans of one traced operation, keyed by metric name."""
    from perfbench import trace

    selfs = trace.self_times(spans)
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    roots = [s for s in spans if s["parent"] is None]
    for s in spans:
        dur, name = s["end"] - s["start"], s["name"]
        add(f"{name}.calls", 1)
        add(f"{name}.busy_s", dur)
        add(f"{name}.self_s", selfs[s["id"]])
        add(f"{name}.spark_jobs", s["engine"]["jobs"])
        for k in ("rows", "files", "bytes"):
            if k in s:
                add(f"{name}.{k}", s[k])
        if name.startswith("queries."):
            stage = name.split(".")[1]
            add(f"queries.{stage}_s", dur)
            if "query" in s:
                add(f"queries.{s['query']}.exec_s", dur)
    wall = sum(r["end"] - r["start"] for r in roots)
    for k in trace.ENGINE_KEYS:
        add(f"engine.{k}", sum(r["engine"][k] for r in roots))
    out["engine.core_utilisation"] = (
        sum(r["engine"]["task_busy_s"] for r in roots) / (wall * cpus) if wall else 0.0)
    out["trace.wall_s"] = wall
    out["trace.self_s_sum"] = sum(selfs.values())
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["panel_build", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench")
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "nhs_data_pipeline_spark"))
            and os.path.isfile(spec_path)):
        print("perfbench: nhs_data_pipeline_spark/ and BENCHMARK.json must sit "
              "in the directory above perfbench/", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    host = host_envelope()
    sys.path.insert(0, ROOT)
    import pyspark

    from nhs_data_pipeline_spark import session
    from perfbench import gen, trace, workloads

    inp, props = gen.cached(os.path.join(WORK, "cache"), args.workload, args.seed, args.size)
    out = os.path.join(WORK, "out", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    phases = {"start": time.perf_counter()}
    ticks0 = cpu_ticks()
    spark, setups, restore = None, [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, get_spark_s, warmup_s = setup(session)
            setups.append((get_spark_s, warmup_s))
        host.update(pyspark=pyspark.__version__,
                    java=spark._jvm.java.lang.System.getProperty("java.version"))
        tracer = trace.Tracer(trace.EngineCounters(spark) if args.trace else None)
        restore = trace.instrument(tracer) if args.trace else None
        os.makedirs(out)
        wl = workloads.WORKLOADS[args.workload](spark, inp, out, tracer, args.seed)
        # query_mix runs each query once, cold, against its oracle before
        # timing; a build is timed from its cold first run, as the one-shot
        # CLI job pays it
        phases["setup"] = time.perf_counter()
        attempted, messages, cold = wl.prime()
        failed = len(messages)
        lat: list[float] = []
        op_times: list[float] = []
        layer_spans: list[dict] = []
        t_start = phases["prime"] = time.perf_counter()
        while True:
            # traced runs go traced, untraced, traced: the first traced
            # operation gives the per-layer numbers, the last pair the
            # tracing overhead
            traced = bool(args.trace) and len(op_times) % 2 == 0
            tracer.enabled = traced
            t0 = time.perf_counter()
            with tracer.span("op"):
                try:
                    n_failed, sub = wl.op()
                except Exception:  # noqa: BLE001 - count the failure, keep measuring
                    traceback.print_exc(file=sys.stderr)
                    n_failed, sub = wl.ops_per_round, []
            op_times.append(time.perf_counter() - t0)
            tracer.enabled = False
            tracer.flush_deferred()
            if len(op_times) == 1:
                layer_spans = list(tracer.spans)
            attempted += wl.ops_per_round
            failed += n_failed
            if not traced:
                lat += sub or ([op_times[-1]] if not n_failed else [])
            if args.trace:
                if len(op_times) == 3:
                    break
            elif (time.perf_counter() - t_start >= args.seconds
                  or len(op_times) == wl.max_ops):
                break
        phases["measure"] = time.perf_counter()
        msgs = wl.final_check()
        failed += len(msgs)
        messages += msgs
        phases["check"] = time.perf_counter()
        rss = peak_rss_mb(spark)
        ticks1 = cpu_ticks()
        host["cpu_steal_share"] = round(
            (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4)
    finally:
        if restore:
            restore()
        if spark is not None:
            stop(spark)
        shutil.rmtree(out, ignore_errors=True)

    setup_totals = [g + w for g, w in setups]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = layer_metrics(layer_spans, host["cpus"])
        if values["trace.self_s_sum"] > values["trace.wall_s"] + 1e-6:
            messages.append("trace: span self times exceed the traced wall time")
            failed += 1
        values.update({
            "session.get_spark_s": statistics.median(g for g, _ in setups),
            "session.warmup_s": statistics.median(w for _, w in setups),
            "session.cold_setup_s": setup_totals[0],
            "queries.cold_p50_s": statistics.median(cold) if cold else 0.0,
            "trace.overhead_s": op_times[2] - op_times[1],
            "run.error_rate": failed / attempted,
            "jvm.peak_rss_mb": rss,
        })
        names = [m["name"] for m in spec["per_layer"]]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    else:
        values = {
            "setup_s": statistics.median(setup_totals),
            "op_p50_s": statistics.median(lat),
            "op_p90_s": pct(lat, 90),
            "ops_per_min": len(lat) / sum(op_times) * 60.0,
        }
        names = [m["name"] for m in spec["end_to_end"]]
    metrics = {n: {"value": values.get(n, 0.0), "unit": units[n]} for n in names}
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "host": host, "inputs": props,
        "phases_s": {k: round(phases[k] - phases[p], 3) for p, k in zip(
            ["start", "setup", "prime", "measure"], ["setup", "prime", "measure", "check"])},
        "op_s": [round(t, 4) for t in op_times],
        "cold_query_s": [round(t, 4) for t in cold],
        "error_rate": failed / attempted, "checks": messages or "all passed",
        "metrics": {n: dict(m, samples=len(setups) if n == "setup_s" else len(lat))
                    for n, m in metrics.items()},
    }
    record["inputs"].update(wl.input_props())
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
