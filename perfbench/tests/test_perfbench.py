"""Small-size checks of the benchmark itself (tables at sf0.001, a 2x
proxy, a 4,000-record stream). Each benchmark run is a subprocess with
its own JVM and its own build directory.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import workloads  # noqa: E402
from stream import Inputs  # noqa: E402

SMALL = """
import json, sys
sys.path.insert(0, {bench!r})
import run, stream
run.BUILD = {build!r}
run.SF = 0.001
run.PROXY_COPIES = 2
stream.N_RECORDS = 4000
{patch}
sys.exit(run.main({argv!r}))
"""


def bench(tmp_path, workload: str, trace: int, patch: str = "",
          build: str | None = None) -> dict:
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace)]
    code = SMALL.format(bench=BENCH, build=build or str(tmp_path / "build"),
                        patch=patch, argv=argv)
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def test_seeded_order_is_deterministic_and_interleaved():
    fams = workloads.OLAP
    a = workloads.interleaved_order(fams, random.Random(7))
    assert a == workloads.interleaved_order(fams, random.Random(7))
    assert a != workloads.interleaved_order(fams, random.Random(8))
    assert sorted(a) == sorted(fams)
    # a family of three or more queries spans at least a third of the pass
    for seed in range(50):
        order = workloads.interleaved_order(fams, random.Random(seed))
        for fam in set(fams.values()):
            idx = [i for i, n in enumerate(order) if fams[n] == fam]
            if len(idx) >= 3:
                assert idx[-1] - idx[0] >= len(order) // 3, (seed, fam)


def test_llm_cache_family_keeps_pipeline_order():
    fams = workloads.LLM_PIPELINE
    want = [n for n in fams if fams[n] == "minhash"]
    for seed in range(20):
        order = workloads.interleaved_order(fams, random.Random(seed),
                                            shuffle_within=False)
        assert [n for n in order if fams[n] == "minhash"] == want


def test_stream_inputs_are_deterministic():
    a, b = Inputs(random.Random(5), 4000), Inputs(random.Random(5), 4000)
    assert (a.corrupt, a.fail_ids, a.expected_rows) == \
        (b.corrupt, b.fail_ids, b.expected_rows)
    assert len(a.corrupt) == 40 and len(a.fail_ids) == 3
    assert not a.fail_ids & a.corrupt
    c = Inputs(random.Random(6), 4000)
    assert c.corrupt != a.corrupt


@pytest.mark.parametrize("workload", ["olap", "stream_ingest"])
def test_every_metric_is_emitted_with_its_unit(tmp_path, workload):
    build = str(tmp_path / "build")
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        res = bench(tmp_path, workload, trace, build=build)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0
        assert res["attempted"] >= 1
        want = declared(kind)
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], float)
                   for v in res["metrics"].values())
    record = os.path.join(build, "runs", f"{workload}-s3-t1.json")
    with open(record) as fh:
        rec = json.load(fh)
    assert set(rec["host"]) >= {"nproc", "cpu_model", "loadavg",
                                "steal_share", "python", "java", "spark"}
    assert isinstance(rec["trace_overhead"], dict)
    assert rec["self_time_s"]


def test_wrong_expected_value_trips_the_batch_gate(tmp_path):
    build = str(tmp_path / "build")
    assert bench(tmp_path, "scale_proxy", 0, build=build)["correct"]
    path = os.path.join(build, "data", f"proxy2x-v{datagen.VERSION}",
                        "_EXPECTED.json")
    with open(path) as fh:
        exp = json.load(fh)
    exp["q_funnel"]["sha"] = "0" * 64
    with open(path, "w") as fh:
        json.dump(exp, fh)
    res = bench(tmp_path, "scale_proxy", 0, build=build)
    assert res["correct"] is False and res["failed"] >= 1
    with open(os.path.join(build, "runs", "scale_proxy-s3-t0.json")) as fh:
        assert "q_funnel" in json.load(fh)["failures"]


def test_wrong_expected_value_trips_the_stream_gate(tmp_path):
    patch = """
_init = stream.Inputs.__init__
def _wrong(self, rng, n):
    _init(self, rng, n)
    k, i, v = self.expected_rows[0]
    self.expected_rows[0] = (k, i, v + 1)
stream.Inputs.__init__ = _wrong
"""
    res = bench(tmp_path, "stream_ingest", 0, patch=patch)
    assert res["correct"] is False and res["failed"] >= 1
