"""stream_ingest: the reference's shape (32 shards, 500-record chunks),
drained twice from the same input.

(a) ``consume_observed`` with three injected failures, each followed by a
    restart from the same checkpoint;
(b) ``decode_json`` into ``foreachBatch(UpsertSink(key, seq_col))`` over a
    key space one tenth of the record count.

The producer writes all input before the timed drains. The seed places
the failures, the ~1% corrupt records, and each record's key and value.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import IntegerType, StructField, StructType

from zio_kinesis_example_spark.api import clear_shared_cache
from zio_kinesis_example_spark.streaming import (
    ShardDirProducer, UpsertSink, consume_observed, decode_json,
    decode_json_flagged, shard_source,
)
from zio_kinesis_example_spark.streaming.consume import order_violations_frame
from zio_kinesis_example_spark.streaming.source import ENVELOPE_SCHEMA

from batch import plan_stats, storage
from spans import median, tail
from workloads import passes_for

N_RECORDS = 100_000
N_SHARDS = 32
CHUNK = 500
FILES_PER_TRIGGER = 25
SCHEMA = StructType([StructField("id", IntegerType()),
                     StructField("k", IntegerType()),
                     StructField("v", IntegerType())])
PHASES = ("latestOffset", "getBatch", "addBatch", "queryPlanning",
          "walCommit", "commitOffsets", "triggerExecution")


class Inputs:
    """The seeded stream: which records are corrupt, where the failures
    sit, and every record's key and value."""

    def __init__(self, rng, n: int):
        self.n = n
        self.corrupt = set(rng.sample(range(1, n + 1), n // 100))
        valid = [i for i in range(1, n + 1) if i not in self.corrupt]
        q = len(valid) // 4          # one failure in each of the last 3 quarters
        self.fail_ids = {valid[rng.randrange(k * q, (k + 1) * q)]
                         for k in (1, 2, 3)}
        self.key = {i: rng.randrange(n // 10) for i in valid}
        self.val = {i: rng.randrange(1_000_000) for i in valid}
        self.valid = valid
        latest: dict[int, int] = {}
        for i in valid:              # ids grow, so the last one per key wins
            latest[self.key[i]] = i
        self.expected_rows = sorted((k, i, self.val[i])
                                    for k, i in latest.items())


class _Producer(ShardDirProducer):
    def __init__(self, src: str, inputs: Inputs):
        super().__init__(src, n_shards=N_SHARDS, batch_size=CHUNK)
        self.inputs = inputs

    def record_json(self, i: int) -> str:
        if i in self.inputs.corrupt:
            return "{ not json !"
        return json.dumps({"id": i, "k": self.inputs.key[i],
                           "v": self.inputs.val[i]})


class _Phases(StreamingQueryListener):
    """Per-batch ``durationMs`` of every query (traced runs only)."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({"run": str(p.runId), "rows": p.numInputRows,
                             **{k: p.durationMs.get(k, 0) for k in PHASES}})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _files_per_batch(ckpt: str) -> list[int]:
    """Files the file source planned into each batch, from its own log."""
    out = []
    for p in sorted(glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*"))):
        with open(p) as fh:
            out.append(sum(1 for ln in fh if ln.startswith("{")))
    return out


def _commit_times(ckpt: str) -> list[float]:
    return sorted(os.path.getmtime(p) for p in
                  glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def _clear_cache(tracer, run: str) -> int:
    with tracer.span("cache.clear", run):
        return clear_shared_cache()


def drain_a(spark, src: str, ckpt: str, inputs: Inputs, tracer, run: str):
    with tracer.span("operators.build", run):
        valid, _ = decode_json(shard_source(
            spark, src, max_files_per_trigger=FILES_PER_TRIGGER), SCHEMA)
    pending = set(inputs.fail_ids)
    results, fail_returns, stored = [], [], []
    t0 = time.perf_counter()
    for _ in range(len(inputs.fail_ids) + 2):
        with tracer.span("consume.drain", run):
            res = consume_observed(valid, ckpt, fail_on_ids=pending,
                                   timeout_s=120)
        if tracer.enabled:
            stored.append(storage(spark))
        results.append(res)
        if not res.failed:
            break
        fail_returns.append(time.time())
    wall = time.perf_counter() - t0
    entries = _clear_cache(tracer, run)
    commits = _commit_times(ckpt)
    recovery = 0.0
    for t in fail_returns:
        after = [c for c in commits if c >= t]
        if after:
            recovery += after[0] - t
    return {"wall": wall, "recovery_s": recovery,
            "processed": sum(r.processed for r in results),
            "sum_id": sum(r.sum_id for r in results),
            "batches": sum(r.batches for r in results),
            "restarts": len(results) - 1,
            "failed": results[-1].failed, "error": results[-1].error[:300],
            "files_per_batch": _files_per_batch(ckpt),
            "stored": stored, "cache_entries": entries}


def drain_b(spark, src: str, ckpt: str, state: str, tracer, run: str):
    with tracer.span("operators.build", run):
        valid, _ = decode_json(shard_source(
            spark, src, max_files_per_trigger=FILES_PER_TRIGGER), SCHEMA)
    sink = UpsertSink(state, key="k", seq_col="id")
    batch_walls, state_rows, written, plan, stored = [], [], [], [], []

    def timed_sink(batch, batch_id):
        if tracer.enabled:
            plan.append(plan_stats(batch))
        t0 = time.perf_counter()
        with tracer.span("sink.batch", run):
            sink(batch, batch_id)
        batch_walls.append(time.perf_counter() - t0)
        if tracer.enabled:
            written.append(_dir_bytes(os.path.join(
                state, sink.current_version())))
            state_rows.append(sink.current(batch.sparkSession).count())
            stored.append(storage(batch.sparkSession))

    t0 = time.perf_counter()
    with tracer.span("sink.drain", run):
        q = (valid.writeStream.foreachBatch(timed_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(150)
    wall = time.perf_counter() - t0
    err = q.exception()
    if q.isActive:
        q.stop()
    return {"wall": wall, "batch_walls": batch_walls,
            "state_rows": state_rows, "plan": plan, "bytes_written": sum(written),
            "versions_left": len(glob.glob(os.path.join(state, "v*"))),
            "failed": err is not None, "error": str(err)[:300] if err else "",
            "sink": sink, "stored": stored,
            "cache_entries": _clear_cache(tracer, run)}


def check_source(spark, src: str, inputs: Inputs) -> dict:
    """One-off serde checks on the decoded source, outside the timed
    drains. Returns the number of records each check found wrong."""
    raw = spark.read.schema(ENVELOPE_SCHEMA).json(src)
    valid, dead = decode_json(raw, SCHEMA)
    agg = valid.agg(F.countDistinct("id").alias("d"),
                    F.sum("id").alias("s")).first()
    viol = order_violations_frame(decode_json_flagged(raw, SCHEMA), {}).count()
    n_dead = dead.count()
    errs = {
        "distinct_ids": abs(agg["d"] - len(inputs.valid)),
        "sum_id": int(agg["s"] != sum(inputs.valid)),
        "order_violations": viol,
        "dead_letters": abs(n_dead - len(inputs.corrupt)),
    }
    return {"errors": errs, "decoded": int(agg["d"]), "dead_letters": n_dead}


def check_pair(spark, inputs: Inputs, a: dict, b: dict) -> dict[str, int]:
    """What one drain pair delivered: drain (a) at least once, drain (b)'s
    final snapshot exactly the latest row per key."""
    snap = b["sink"].current(spark)
    got = {tuple(r) for r in snap.select("k", "id", "v").collect()} \
        if snap is not None else set()
    return {
        # at-least-once: every valid record reaches drain (a) at least once
        "drain_a_missing": max(0, len(inputs.valid) - a["processed"])
        + int(a["sum_id"] < sum(inputs.valid)) + int(a["failed"]),
        "upsert_snapshot": len(got ^ set(inputs.expected_rows))
        + int(b["failed"]),
    }


def run(spark, root: str, rng, seconds: float, tracer) -> dict:
    t_prime = time.perf_counter()
    prime(spark, os.path.join(root, "prime"), type(tracer)(False))
    prime_s = time.perf_counter() - t_prime
    inputs = Inputs(rng, N_RECORDS)
    src = os.path.join(root, "src")
    shutil.rmtree(src, ignore_errors=True)
    with tracer.span("stream.produce"):
        _Producer(src, inputs).produce_all(inputs.n)
    listener = _Phases() if tracer.enabled else None
    if listener:
        spark.streams.addListener(listener)
    pairs = []
    try:
        for k in range(passes_for("stream_ingest", seconds)):
            work = os.path.join(root, f"drain{k}")
            shutil.rmtree(work, ignore_errors=True)
            a = drain_a(spark, src, os.path.join(work, "ckpt_a"), inputs,
                        tracer, f"a#{k}")
            b = drain_b(spark, src, os.path.join(work, "ckpt_b"),
                        os.path.join(work, "state"), tracer, f"b#{k}")
            pairs.append((a, b))
    finally:
        if listener:
            time.sleep(0.5)          # let the listener bus drain
            spark.streams.removeListener(listener)
    t_check = time.perf_counter()
    source = check_source(spark, src, inputs)
    n_source = sum(source["errors"].values())
    failures = {k: v for k, v in source["errors"].items() if v}
    failed = 0
    for k, (a, b) in enumerate(pairs):
        errs = check_pair(spark, inputs, a, b)
        failures.update({f"{name}#{k}": v for name, v in errs.items() if v})
        failed += min(inputs.n, n_source + sum(errs.values()))
    check_s = time.perf_counter() - t_check
    walls = [a["wall"] + b["wall"] for a, b in pairs]
    batch_walls = [w for _, b in pairs for w in b["batch_walls"]]
    out = {
        "passes": len(pairs), "records": inputs.n,
        "attempted": inputs.n * len(pairs), "failed": failed,
        "failures": failures,
        "suite_s": median(walls),
        "op_p50_s": median(batch_walls), "walls": batch_walls,
        "stream_rps": median([inputs.n / a["wall"] for a, _ in pairs]),
        "upsert_rps": median([inputs.n / b["wall"] for _, b in pairs]),
        "recovery_s": median([a["recovery_s"] for a, _ in pairs]),
        "source_checks": source, "prime_s": prime_s, "check_s": check_s,
    }
    stored = [s for a, b in pairs for s in a["stored"] + b["stored"]]
    plan = [p for _, b in pairs for p in b["plan"]]
    a, b = pairs[-1]                 # the consume and sink detail: last pair
    processed = a["processed"]
    distinct = len(inputs.valid)
    out["layer"] = {
        "cache_entries": sum(a["cache_entries"] + b["cache_entries"]
                             for a, b in pairs),
        "persisted_rdds": [n for n, _ in stored],
        "storage_bytes": [nbytes for _, nbytes in stored],
        "consume.batches": a["batches"], "consume.restarts": a["restarts"],
        "consume.redelivered": processed - distinct,
        "consume.useful_ratio": distinct / processed if processed else 0.0,
        "source.files_per_batch": median(a["files_per_batch"]),
        "serde.decoded": source["decoded"],
        "serde.dead_letters": source["dead_letters"],
        "sink.batches": len(b["batch_walls"]),
        "sink.batch_s": b["batch_walls"], "sink.state_rows": b["state_rows"],
        "sink.bytes_written": b["bytes_written"],
        "sink.write_amp": b["bytes_written"] / max(1, _dir_bytes(src)),
        "sink.versions_left": b["versions_left"],
        "phases": listener.batches if listener else [],
        "phase_ms": {k: {"p50": median(v), "tail": tail(v)[0],
                         "tail_percentile": tail(v)[1], "batches": len(v)}
                     for k in PHASES
                     for v in [[b[k] for b in (listener.batches
                                               if listener else [])]] if v},
        "plan": plan,
    }
    return out


def prime(spark, root: str, tracer) -> None:
    """Both drains once over a small stream, untimed, so the JIT and
    code-generation caches are warm before the timed drains."""
    import random

    inputs = Inputs(random.Random(0), 20 * CHUNK)
    src = os.path.join(root, "src")
    shutil.rmtree(root, ignore_errors=True)
    _Producer(src, inputs).produce_all(inputs.n)
    drain_a(spark, src, os.path.join(root, "ckpt_a"), inputs, tracer, "prime")
    drain_b(spark, src, os.path.join(root, "ckpt_b"),
            os.path.join(root, "state"), tracer, "prime")

