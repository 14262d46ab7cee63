"""Smoke test of the benchmark itself at a tiny scale (150 pages).

    python3 -m pytest perfbench/test_smoke.py -q

About four minutes on a 4-core host: three short benchmark runs, each
starting its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAGES = 150
SEED = 7
WORKLOAD = "kg_incremental_240_300"


def bench(work, *args, run=os.path.join(HERE, "run.py"), cwd=ROOT):
    cmd = [sys.executable, str(run), "--seed", str(SEED),
           "--pages", str(PAGES), "--seconds", "1", "--work-dir", str(work), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, lines, result


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def assert_metrics(lines, result, kind):
    units = declared(kind)
    assert set(result["metrics"]) == set(units)
    for name, unit in units.items():
        assert result["metrics"][name]["unit"] == unit
        assert any(l.startswith(f"{name} = ") and l.endswith(f" {unit}") for l in lines), name


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench")


def test_untraced_prints_every_end_to_end_metric(work):
    p, lines, result = bench(work, "--workload", WORKLOAD, "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert_metrics(lines, result, "end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_spans_every_layer(work):
    p, lines, result = bench(work, "--workload", WORKLOAD, "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    assert result["correct"]
    assert_metrics(lines, result, "per_layer")
    with open(os.path.join(work, f"spans_{WORKLOAD}_seed{SEED}.json")) as f:
        spans = json.load(f)
    sys.path.insert(0, HERE)
    from tracer import LAYERS

    assert {s["layer"] for s in spans} == set(LAYERS)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)
    for layer in ("generate", "score", "parse"):
        assert result["metrics"][f"{layer}.task_s"]["value"] > 0


def test_tampered_fingerprint_fails_the_run(tmp_path):
    # a copy whose pinned fingerprint for this input set is off by one
    for d in ("folkscope_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    spec_path = tmp_path / "perfbench" / "spec.json"
    spec = json.loads(spec_path.read_text())
    pin = spec["pinned_fingerprints"]["300:1470:7"]
    spec["pinned_fingerprints"][f"{PAGES}:1470:{SEED}"] = {
        **pin, "triples": [pin["triples"][0], pin["triples"][1] + 1]
    }
    spec_path.write_text(json.dumps(spec))
    p, _, result = bench(tmp_path / "w", "--workload", "kg_parity_300", "--trace", "0",
                         run=tmp_path / "perfbench" / "run.py", cwd=tmp_path)
    assert p.returncode != 0
    assert "(pinned)" in p.stderr
    assert result is not None and not result["correct"] and result["failed"] >= 1


def test_every_seed_selects_a_pinned_input_set():
    sys.path[:0] = [ROOT, HERE]
    import pandas as pd
    import run
    from folkscope_spark import synthetic

    spec = run.load(os.path.join(HERE, "spec.json"))
    pins = spec["pinned_fingerprints"]
    wl = spec["workloads"]["kg_parity_300"]
    for seed in (0, 9, 10, 12345, 2**31, 2**63 + 5):
        index = run.input_set(spec, seed)
        assert f"{wl['pages']}:{spec['n_items']}:{index}" in pins
    # the last page of the last input set and of the warm-up still has a
    # timestamp pandas holds as datetime64
    last = (spec["input_sets"] + 1) * spec["seed_stride"]
    rows = pd.DataFrame([synthetic.page_row(last, spec["n_items"])])
    assert str(rows["warc_ts"].dtype).startswith("datetime64")


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "kg_parity_300", "--seed", "0", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()
