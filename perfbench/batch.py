"""Batch workloads (olap, llm_pipeline, scale_proxy): timed passes over a
fixed query list, then an output check against the DuckDB oracles.

The output check runs first, untimed: besides gating correctness it
leaves the JIT and code-generation caches warm for every code path the
timed passes take, whatever their seeded order. A query's wall runs from
the call to ``spec.bench_fn or spec.fn`` to the end of its noop-sink
action, as in the repository's ``bench.py``. Caches are cleared outside
the wall: after every query on the cold workloads, after every pass on
llm_pipeline. ``suite_s`` is the sum of each query's fastest wall on the
cold workloads, and the median pass sum on llm_pipeline.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import traceback

import duckdb

from zio_kinesis_example_spark.api import clear_shared_cache
from zio_kinesis_example_spark.catalog import TABLES, path
from zio_kinesis_example_spark.registry import all_specs
from zio_kinesis_example_spark.tools.oracle import _spark_pdf, canonical_rows

from spans import median
from workloads import BATCH, COLD_PER_QUERY, interleaved_order, passes_for


def force(df) -> None:
    """Execute the whole plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the catalog's tables as views; a table stored as a
    directory of part files (the rolled proxy) is read through a glob."""
    con = duckdb.connect()
    for t in TABLES:
        p = path(sf_dir, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{src.replace(chr(39), chr(39) * 2)}')")
    return con


def digest(pdf) -> dict:
    rows = canonical_rows(pdf)
    return {"cols": sorted(pdf.columns), "rows": len(rows),
            "sha": hashlib.sha256(repr(rows).encode()).hexdigest()}


def expected_results(names: list[str], sf_dir: str, cache_path: str) -> dict:
    """Oracle digests for ``names``, computed with DuckDB once per data
    directory and oracle text, and cached in ``cache_path``."""
    specs = all_specs()
    try:
        with open(cache_path) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    con = None
    for name in names:
        oracle = specs[name].oracle
        key = hashlib.sha256((oracle or "").encode()).hexdigest()
        if cache.get(name, {}).get("oracle") == key:
            continue
        if oracle is None:
            raise SystemExit(f"{name} has no DuckDB oracle")
        con = con or duck(sf_dir)
        cache[name] = {"oracle": key, **digest(con.sql(oracle).df())}
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
    return cache


def check_outputs(spark, names: list[str], sf_dir: str,
                  expected: dict) -> dict[str, str]:
    """{query: reason} for every query whose output differs from its
    oracle digest or that raises; outside any timed region."""
    specs = all_specs()
    bad = {}
    for name in names:
        try:
            got = digest(_spark_pdf(specs[name].fn(spark, sf_dir)))
        except Exception as e:  # a failing query is reported, not skipped
            bad[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
            continue
        want = {k: expected[name][k] for k in ("cols", "rows", "sha")}
        if got != want:
            bad[name] = (f"output differs: rows {got['rows']} vs "
                         f"{want['rows']}, cols equal "
                         f"{got['cols'] == want['cols']}")
    spark.catalog.clearCache()
    clear_shared_cache()
    return bad


def plan_stats(df) -> dict:
    """Force Catalyst on the built frame (traced runs only)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    plan = qe.executedPlan().toString()
    t2 = time.perf_counter()
    return {"optimize_s": t1 - t0, "physical_s": t2 - t1,
            "nodes": len(re.findall(r"^[\s:|+-]*(?:\*\(\d+\) )?[A-Z]", plan,
                                    re.M)),
            "exchanges": len(re.findall(r"\b\w*Exchange\b", plan))}


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, their bytes in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return (jsc.getPersistentRDDs().size(),
            sum(int(i.memSize()) + int(i.diskSize()) for i in infos))


def run(spark, workload: str, sf_dir: str, rng, seconds: float, tracer,
        expected: dict) -> dict:
    specs = all_specs()
    families = BATCH[workload]
    cold = workload in COLD_PER_QUERY
    n_passes = passes_for(workload, seconds)
    walls: list[float] = []
    by_query: dict[str, list[float]] = {}
    pass_sums: list[float] = []
    pass_p50: list[float] = []
    raised: dict[str, str] = {}
    layer = {"plan": [], "persisted_rdds": [], "storage_bytes": [],
             "cache_entries": 0}
    t_check = time.perf_counter()
    wrong = check_outputs(spark, sorted(families), sf_dir, expected)
    check_s = time.perf_counter() - t_check
    passes = 0
    while passes < n_passes:
        order = interleaved_order(families, rng, shuffle_within=cold)
        pass_walls = []
        for name in order:
            spec = specs[name]
            fn = spec.bench_fn or spec.fn
            run_id = f"{name}#{passes}"
            with tracer.span("query", run_id):
                t0 = time.perf_counter()
                try:
                    with tracer.span("operators.build", run_id):
                        df = fn(spark, sf_dir)
                    if tracer.enabled:
                        with tracer.span("plan.force", run_id):
                            layer["plan"].append(plan_stats(df))
                    with tracer.span("exec.action", run_id):
                        force(df)
                    pass_walls.append(time.perf_counter() - t0)
                    by_query.setdefault(name, []).append(pass_walls[-1])
                except Exception:
                    raised.setdefault(name, traceback.format_exc(limit=3))
                if tracer.enabled:
                    n, b = storage(spark)
                    layer["persisted_rdds"].append(n)
                    layer["storage_bytes"].append(b)
                if cold:
                    with tracer.span("cache.clear", run_id):
                        spark.catalog.clearCache()
                        layer["cache_entries"] += clear_shared_cache()
        if not cold:
            with tracer.span("cache.clear", f"pass#{passes}"):
                spark.catalog.clearCache()
                layer["cache_entries"] += clear_shared_cache()
        passes += 1
        walls += pass_walls
        pass_sums.append(sum(pass_walls))
        pass_p50.append(median(pass_walls))
    failed_queries = {**wrong, **raised}
    if cold:
        # each query starts from empty caches, so its fastest wall is its
        # own best-of-N, as in bench.py; it leaves out the passes a slow
        # spell on the machine or the warming JIT hit
        suite_s = sum(min(w) for w in by_query.values())
    else:
        # a query's wall depends on what the queries before it in the
        # pass left in the shared cache, so only whole passes compare
        suite_s = median(pass_sums)
    return {
        "passes": passes, "queries": len(families),
        "attempted": passes * len(families),
        "failed": passes * len(failed_queries),
        "failures": failed_queries,
        "suite_s": suite_s, "op_p50_s": median(pass_p50),
        "check_s": check_s,
        "walls": walls, "query_walls": by_query, "layer": layer,
    }

