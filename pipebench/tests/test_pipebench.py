"""Self-tests of the benchmark (not of the program). Run from the
repository root:

    python3 -m pytest pipebench/tests -q

They drive ``run.py`` and ``scaling.py`` as subprocesses on a tiny
workload described by a spec file of their own (``PIPEBENCH_SPEC``), so
the real workloads and their cache are untouched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pipebench import common, inputs

BENCHMARK = os.path.join(common.ROOT, "BENCHMARK.json")
# two tiny workloads, as in spec.json: one with hot keys and the staged
# section, one with the scaling pair (a traced run must end in 180 s)
TINY = {
    "tiny_hot": {"sf": 0.002, "hot_urls": 1, "hot_versions": 300, "hot_ways": 1,
                 "hot_way_window": 100, "staged_slice": 2, "why": "self-test"},
    "tiny": {"sf": 0.002, "scaling": True, "why": "self-test"},
}
SEED = 3


def _run(tmp_spec: str, workload: str, trace: int) -> dict:
    env = dict(os.environ, PIPEBENCH_SPEC=tmp_spec)
    proc = subprocess.run(
        [sys.executable, os.path.join(common.HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, env=env, cwd=common.ROOT,
        timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def runs():
    """trace 0 on the hot workload; trace 1 on both, per-layer metrics
    merged (each a metric the other reports as 0)."""
    os.makedirs(common.WORK, exist_ok=True)
    spec = os.path.join(common.WORK, "test-spec.json")
    with open(spec, "w") as fh:
        json.dump({"workloads": TINY}, fh)
    hot, plain = _run(spec, "tiny_hot", 1), _run(spec, "tiny", 1)
    merged = dict(hot, metrics={
        k: max((hot["metrics"][k], plain["metrics"][k]), key=lambda m: m["value"])
        for k in hot["metrics"]
    })
    merged["correct"] = hot["correct"] and plain["correct"]
    return {0: _run(spec, "tiny_hot", 0), 1: merged, "plain": plain, "hot": hot}


def test_generator_is_deterministic_and_seeded():
    """The same seed gives the same pages, another seed other pages —
    also after the process has generated under another seed (the
    lru_caches behind synth.SEED must be cleared)."""
    for item in (("uniform", 0.002, 7), ("hot", 0, 1, 40, 300), ("hotway", 0, 0, 100)):
        a = inputs.part_rows(1, item)
        b = inputs.part_rows(2, item)
        again = inputs.part_rows(1, item)
        assert a == again
        assert [r["html"] for r in a] != [r["html"] for r in b]


def test_every_metric_is_emitted_with_its_unit(runs):
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        out = runs[trace]
        assert out["correct"] and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in bench[section]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        for name, m in out["metrics"].items():
            assert isinstance(m["value"], (int, float)), name
    for name in ("e2e_s", "pages_per_s", "tiles_per_s", "setup_s", "peak_rss_mb"):
        assert runs[0]["metrics"][name]["value"] > 0
    layer = runs[1]["metrics"]
    for name in ("extract.rows_in", "history.records", "reconstruct.rows_out",
                 "tiles.rows_out", "lineage.checksum_s", "lineage.bytes_written",
                 "staged.resume_s", "scaling.eff_1to4", "spark.jobs"):
        assert layer[name]["value"] > 0, name


def test_traced_self_time_is_reported_against_e2e(runs):
    layer = {k: v["value"] for k, v in runs["plain"]["metrics"].items()}
    total = sum(layer[f"{p}.self_s"] for p in
                ("extract", "history", "locations", "reconstruct", "tiles"))
    assert layer["trace.self_sum_s"] == pytest.approx(total)
    assert layer["trace.e2e_s"] > 0
    assert layer["trace.gap_s"] == pytest.approx(total - layer["trace.e2e_s"])


def test_digest_is_identical_at_1_and_4_cores(runs):
    pages = os.path.join(common.CACHE, f"tiny_hot-seed{SEED}", "pages")
    out = {}
    for n in (1, 4):
        proc = subprocess.run(
            [sys.executable, os.path.join(common.HERE, "scaling.py"),
             "--cores", str(n), "--input", pages],
            stdout=subprocess.PIPE, text=True, cwd=common.ROOT, timeout=300, check=True,
        )
        out[n] = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out[1]["pages"] == out[4]["pages"] > 0
    assert out[1]["digest"] == out[4]["digest"]
