"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run generates the
tables, the 10x proxy and the oracle digests under ``.bench_build/`` and
reuses them afterwards. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full
run record (host stamp, per-query walls, failures, spans, stream phases)
is written to ``.bench_build/perfbench/runs/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import sys
import time

from spans import Tracer, exec_metrics, read_event_log, tail
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SF = 0.1
PROXY_COPIES = 10

END_TO_END = {"setup_s": "s", "suite_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plan.optimize_s": "s", "plan.physical_s": "s",
    "plan.nodes": "count", "plan.exchanges": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.job_s": "s", "exec.driver_gap_s": "s",
    "exec.busy_share": "ratio", "exec.input_bytes": "bytes",
    "exec.files_read": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count", "cache.entries_at_end": "count",
    "cache.persisted_rdds": "count", "cache.storage_bytes": "bytes",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let the Python workers import the package."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    args = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
            " -XX:-UsePerfData"]
    if trace:
        evdir = os.path.join(BUILD, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{evdir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp


def prepare() -> dict[str, str]:
    """Tables at sf0.1, the 10x rolled proxy built from them, and the
    oracle digests of every batch workload's queries."""
    import datagen
    from zio_kinesis_example_spark.tools.heavy_scaling import _roll_documents
    from zio_kinesis_example_spark.tools.relational_scale import (
        build_tpch_proxy,
    )
    from zio_kinesis_example_spark.tools.scale_proxy import build_proxy

    import batch
    from workloads import BATCH

    base = datagen.ensure(os.path.join(BUILD, "data", "sf0.1"), SF)
    # the proxy builders check only their own parameters, so a new data
    # version gets a new directory
    proxy = os.path.join(BUILD, "data",
                         f"proxy{PROXY_COPIES}x-v{datagen.VERSION}")
    build_tpch_proxy(proxy, PROXY_COPIES, src=base)
    _roll_documents(proxy, PROXY_COPIES, src=base)
    build_proxy(proxy, PROXY_COPIES,
                src=os.path.join(base, "embeddings.parquet"))
    dirs = {"olap": base, "llm_pipeline": base, "scale_proxy": proxy,
            "stream_ingest": base}
    for w, names in BATCH.items():
        batch.expected_results(sorted(names), dirs[w],
                               os.path.join(dirs[w], "_EXPECTED.json"))
    return dirs


def warmup(spark, sf_dir: str) -> None:
    """One small scan, join and aggregate: pays class loading and code
    generation before the first timed call."""
    from pyspark.sql import functions as F

    from zio_kinesis_example_spark.catalog import load
    li = load(spark, sf_dir, "lineitem").limit(1000)
    o = load(spark, sf_dir, "orders").limit(1000)
    (li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag")
     .agg(F.sum("l_quantity")).write.format("noop").mode("overwrite").save())


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_stamp(spark, cpu0: list[int], cpu1: list[int]) -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    return {
        "nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
        "loadavg": open("/proc/loadavg").read().split()[:3],
        "steal_share": delta[7] / sum(delta) if sum(delta) else 0.0,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
    }


def layer_metrics(res: dict, tracer, events, setup, cores: int,
                  stream: bool) -> dict:
    passes = res["passes"]
    actions = ("consume.drain", "sink.drain") if stream else ("exec.action",)
    windows = [(s["t0"], s["t1"]) for a in actions for s in tracer.of(a)]
    ex = exec_metrics(events, windows, cores)
    build = exec_metrics(events, [(s["t0"], s["t1"])
                                  for s in tracer.of("operators.build")],
                         cores)
    plan = res["layer"].get("plan", [])
    lay = res["layer"]
    out = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "operators.build_s": tracer.total("operators.build") / passes,
        "operators.build_jobs": build["jobs"] / passes,
        "plan.optimize_s": sum(p["optimize_s"] for p in plan) / passes,
        "plan.physical_s": sum(p["physical_s"] for p in plan) / passes,
        "plan.nodes": sum(p["nodes"] for p in plan) / passes,
        "plan.exchanges": sum(p["exchanges"] for p in plan) / passes,
        "exec.action_s": sum(b - a for a, b in windows) / passes,
        "exec.busy_share": ex["busy_share"],
        "cache.entries_at_end": lay["cache_entries"] / passes,
        "cache.persisted_rdds": max(lay["persisted_rdds"]),
        "cache.storage_bytes": max(lay["storage_bytes"]),
    }
    for k in ("jobs", "stages", "tasks", "job_s", "driver_gap_s",
              "input_bytes", "files_read", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        out[f"exec.{k}"] = ex[k] / passes
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import zio_kinesis_example_spark as pkg
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {pkg.__file__} is not part of the checkout at "
              f"{ROOT}", file=sys.stderr)
        return 2
    _environment(bool(args.trace))
    t_prepare = time.perf_counter()
    dirs = prepare()
    phases = {"prepare_s": time.perf_counter() - t_prepare}

    from pyspark import SparkContext

    import batch
    import stream
    from zio_kinesis_example_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    cpu0 = _cpu_times()
    cores = len(os.sched_getaffinity(0))
    rng = random.Random(args.seed)
    # one cold set-up, the one every run pays before its first timed call:
    # JVM launch, session, and a warm-up on a cold JIT
    with tracer.span("session.start", "setup"):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cores)
        t1 = time.perf_counter()
    with tracer.span("session.warmup", "setup"):
        warmup(spark, dirs["olap"])
    setup = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
    spark.sparkContext.setLogLevel("ERROR")

    work = os.path.join(BUILD, "work", args.workload)
    os.makedirs(work, exist_ok=True)
    t_work = time.perf_counter()
    if args.workload == "stream_ingest":
        res = stream.run(spark, work, rng, args.seconds, tracer)
    else:
        expected = batch.expected_results(
            sorted(batch.BATCH[args.workload]), dirs[args.workload],
            os.path.join(dirs[args.workload], "_EXPECTED.json"))
        res = batch.run(spark, args.workload, dirs[args.workload], rng,
                        args.seconds, tracer, expected)

    phases["workload_s"] = time.perf_counter() - t_work
    rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(
        SparkContext._gateway.proc.pid)) / 1024.0
    host = host_stamp(spark, cpu0, _cpu_times())
    app_id = spark.sparkContext.applicationId
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None

    tail_v, tail_pct = tail(res["walls"])
    e2e = {"setup_s": setup["start_s"] + setup["warmup_s"],
           "suite_s": res["suite_s"]}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "setup": setup, "phases": phases, "end_to_end": e2e,
              "peak_rss_mb": rss_mb, "op_p50_s": res["op_p50_s"],
              "op_tail_s": tail_v, "op_tail_percentile": tail_pct,
              "op_samples": len(res["walls"]),
              **{k: v for k, v in res.items() if k not in ("layer", "walls")},
              "walls": res["walls"]}
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    if args.trace:
        events = read_event_log(os.path.join(BUILD, "eventlog", app_id))
        metrics = layer_metrics(res, tracer, events, setup, cores,
                                args.workload == "stream_ingest")
        record["per_layer"] = metrics
        record["layer_detail"] = res["layer"]
        record["self_time_s"] = tracer.self_times()
        base = _untraced(runs, args.workload, args.seed)
        record["trace_overhead"] = (
            {k: e2e[k] - base["end_to_end"][k] for k in e2e
             if k in base["end_to_end"]}
            if base else "no untraced record of this workload yet")
        tracer.write(os.path.join(
            runs, f"{args.workload}-s{args.seed}-spans.json"))
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    with open(os.path.join(
            runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
            "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "passes", "attempted", "failed", "failures",
        "op_tail_s", "op_tail_percentile", "op_samples", "host")}, default=str))
    for k in ("stream_rps", "upsert_rps", "recovery_s"):
        if k in res:
            print(f"{k} = {res[k]:.4f}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units}}))
    return 0


def _untraced(runs: str, workload: str, seed: int) -> dict | None:
    """The untraced record of the same seed, else of any seed."""
    import glob
    same = os.path.join(runs, f"{workload}-s{seed}-t0.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(runs, f"{workload}-s*-t0.json")),
        key=os.path.getmtime)[-1:]
    for p in cands:
        with open(p) as fh:
            return json.load(fh)
    return None


if __name__ == "__main__":
    sys.exit(main())
