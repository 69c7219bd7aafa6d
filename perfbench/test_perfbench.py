"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q

The ledger and exit-code tests start Spark; the rest are pure Python.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import diff, etl, gen, metrics, run, sweep  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    a5, b5, c6 = gen.inputs(a, "tiny", 5), gen.inputs(b, "tiny", 5), gen.inputs(c, "tiny", 6)
    assert _same_tree(a5.root, b5.root)
    assert sorted(os.listdir(a5.archives)) != sorted(os.listdir(c6.archives))


def test_sweep_sample_is_the_stratified_draw():
    modules = sweep.key_modules()
    assert sweep.draw_sample(modules) == sweep.SAMPLE
    assert tuple(sweep.SAMPLE) == tuple(metrics.STRATA)
    assert all(modules[k] in metrics.STRATA[st] for st, k in sweep.SAMPLE.items())


def test_ledger_covers_every_entry_form(tmp_path):
    inp = gen.inputs(str(tmp_path), "tiny", 1)
    led = inp.ledger
    assert led["download"] == gen.SHAPES["tiny"].dirs + 2  # + out-of-window, + no archive
    assert led["transform"] == led["parse"] == len(led["object_ids"]) > 0
    assert led["relations"] > 0 and led["logs"] > 0
    assert led["geocode"] > led["parse"]  # work+home entries carry two locations


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from etl_city_directories_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [11, 12])
def test_ledger_equals_cli_output(spark, tmp_path, seed):
    from etl_city_directories_spark import cli

    inp = gen.inputs(str(tmp_path / "cache"), "tiny", seed)
    work = str(tmp_path / "work")
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(inp.config()))
    counts = cli.run(str(cfg), work, spark=spark)
    for step, count in counts.items():
        assert etl.check_step(step, count, work, inp.ledger) == [], step
    wrong = dict(inp.ledger, logs=inp.ledger["logs"] + 1)
    assert etl.check_step("transform", counts["transform"], work, wrong)


def test_wrong_ledger_entry_fails_the_run():
    seed = 990001
    code = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from perfbench import gen, run
gen.SHAPES["full"] = gen.SHAPES["tiny"]
inp = gen.inputs(run.CACHE, "full", {seed})
ledger = dict(inp.ledger, relations=inp.ledger["relations"] + 1)
with open(inp.root + "/ledger.json", "w") as f:
    json.dump(ledger, f)
sys.exit(run.main(["--workload", "etl_full", "--seed", "{seed}", "--seconds", "1"]))
"""
    try:
        proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, timeout=600,
                              capture_output=True, text=True)
    finally:
        tiny = gen.SHAPES["tiny"]  # the run's "full" shape too
        for shape in ("full", "tiny"):
            shutil.rmtree(os.path.join(
                run.CACHE, f"{shape}-{tiny.dirs}x{tiny.pages}x{tiny.rows}-{seed}"),
                ignore_errors=True)
    assert proc.returncode == 1, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    # one transform per pass, of the four steps attempted in each
    assert last["correct"] is False and last["failed"] * len(etl.ALL_STEPS) == last["attempted"]
    assert "relations" in proc.stderr


def test_run_outside_a_checkout_fails(tmp_path):
    bench = tmp_path / "perfbench"
    shutil.copytree(os.path.join(ROOT, "perfbench"), bench,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, timeout=120, capture_output=True, text=True)
    assert proc.returncode != 0 and not proc.stdout.strip()


def test_benchmark_names_are_well_formed():
    doc = _benchmark()
    names = [w["name"] for w in doc["workloads"]]
    names += [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_benchmark_matches_the_metric_definitions():
    doc = _benchmark()
    assert tuple(w["name"] for w in doc["workloads"]) == metrics.WORKLOADS
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == metrics.per_layer_units()


def test_every_layer_metric_names_what_it_moves():
    for name, (e2e, workloads) in metrics.per_layer().items():
        assert e2e in metrics.END_TO_END, name
        assert workloads and set(workloads) <= set(metrics.WORKLOADS), name


def test_tail_is_the_slowest_median_not_one_stall():
    op_s = {"a": [1.0, 1.1, 9.0], "b": [2.0, 2.2, 2.1]}
    assert run.tail(op_s) == (2.1, "b")


def test_tree_cpu_counts_child_processes():
    from perfbench.spans import tree_cpu_s

    before = tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s() - before >= 0.4


def test_diff_ranks_the_largest_relative_change_first():
    rows = diff.rank({"a": 1.0, "b": 10.0, "c": 0.0}, {"a": 1.5, "b": 11.0, "c": 2.0})
    assert [r[0] for r in rows] == ["a", "b", "c"]
