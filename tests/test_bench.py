"""``bench.py`` as a command: it checks its knobs before Spark starts and
runs from any working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _bench(tmp_path, **env):
    base = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    base.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "detail.json"),
        SPARK_GRAFT_CPUS="2",
        **env,
    )
    return subprocess.run(
        [sys.executable, BENCH], cwd=tmp_path, env=base,
        capture_output=True, text=True, timeout=600,
    )


def test_unknown_bench_keys_fail_before_spark_starts(tmp_path):
    done = _bench(tmp_path, SPARK_GRAFT_BENCH_KEYS="hocr_parse,no_such_key")
    assert done.returncode != 0
    assert "SPARK_GRAFT_BENCH_KEYS" in done.stderr and "no_such_key" in done.stderr
    assert "log4j" not in done.stderr, done.stderr[-3000:]  # no JVM was started
    assert done.stdout == "" and not (tmp_path / "detail.json").exists()


def test_bench_runs_from_another_directory(tmp_path):
    """A key whose work runs in a Python worker succeeds with another
    working directory and no PYTHONPATH."""
    done = _bench(tmp_path, SPARK_GRAFT_BENCH_KEYS="hocr_parse")
    assert done.returncode == 0, done.stderr[-3000:]
    line = json.loads(done.stdout.strip().splitlines()[-1])
    assert line["n_failed"] == 0 and line["n_queries"] == 1, line
    assert json.loads((tmp_path / "detail.json").read_text())["attempts"]["hocr_parse"]
