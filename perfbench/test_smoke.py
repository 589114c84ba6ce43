"""Smoke test of the benchmark at a small size (about three minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, checks that the result
line names every metric of BENCHMARK.json with its unit, that the layers a
workload loads read above 0 and the others 0, and that the oracles reject a
corrupted output.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from fixtures import Fixtures  # noqa: E402
from workloads import WORKLOADS, make  # noqa: E402

SCALE = 0.01
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# Per-layer metrics each workload loads (must read > 0); every other layer
# metric except those in ALWAYS must read 0 there.
HEAVY = {
    "pip_hot": {
        "geocode.extract_s", "geocode.keep_ratio",
        "spatial_join.pip_s", "spatial_join.candidates", "spatial_join.hits",
        "spatial_join.hits_per_candidate", "spatial_join.shuffle_bytes",
        "spatial_join.task_skew",
        "tiler.pyramid_s", "tiler.tiles_out", "tiler.shuffle_bytes",
    },
    "osm_roundtrip": {
        "pbf_source.decode_s", "pbf_source.elements_per_s", "pbf_source.reread_s",
        "spatial_join.assemble_s", "spatial_join.polygons",
        "pbf_sink.write_s", "pbf_sink.shards", "pbf_sink.bytes", "pbf_sink.bytes_ratio",
    },
}
ALWAYS = {"session.start_s", "jvm.heap_after_gc_mb", "jvm.live_heap_mb", "trace.overhead_pct"}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_result_line_names_every_metric(workload, trace):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace), "--scale", str(SCALE),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace or m["name"] in HEAVY[workload] or m["name"] in ALWAYS - {"trace.overhead_pct"}:
            assert got["value"] > 0, m["name"]
        elif m["name"] not in ALWAYS:
            assert got["value"] == 0, m["name"]


def _corrupt(value):
    """``value`` with its first number changed by one."""
    value = copy.deepcopy(value)
    node = value
    while isinstance(node, (dict, list)):
        key = next(iter(node)) if isinstance(node, dict) else 0
        if isinstance(node[key], (int, float)):
            node[key] += 1
            return value
        node = node[key]
    raise ValueError("no number to corrupt")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_oracle_rejects_corrupted_checksum(workload, tmp_path):
    fx = Fixtures(os.path.join(ROOT, ".perfbench", "fixtures"), SEED, SCALE)
    wl = make(workload, fx, str(tmp_path))
    good = copy.deepcopy(wl.expected)
    assert wl.check(good) is None
    for key in good:
        if isinstance(good[key], (dict, list)):
            bad = dict(good, **{key: _corrupt(good[key])})
            assert wl.check(bad) is not None, key
