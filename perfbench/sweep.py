"""The operator sweep: rounds over a fixed, stratified sample of
``queries()`` keys on the standard sf0.01 tables.

The tables under ``perfbench/data/sf0.01`` are a byte copy of the
repository's standard synthetic test tables at scale factor 0.01 (about
60 k lineitem rows), the scale at which the driver contract is checked
against DuckDB. The benchmark reads nothing outside its checkout, so it
carries its own copy. The tables do not depend on the seed, so every
seed times the same data.

The sample holds one key of every stratum, a group of operator modules
(``metrics.STRATA``), drawn with a fixed seed from all of the stratum's
keys (``draw_sample``); nothing about a key's speed or result decided
the draw. It is kept literal so that keys added later do not change
what is timed, and its order is fixed, so the run's seed changes
neither which keys run nor which of them pays a first use shared with
others.

Each round runs every sampled key once over a fresh copy of the tables
at a new path, so neither the memos nor the path-keyed process caches
carry anything from one round into the next: every key builds its
artifacts in every round. The first round primes the JVM (code
generation, JIT, Python workers) and is left out of the end-to-end
metrics: its CPU time holds the JIT compiler's background work, which
lands in the round or after it as the host's speed varies. Counted
rounds then repeat until ``--seconds`` is spent, at least one. A key's
latency is its construction (``queries()[key](spark, sf_dir)``) plus
``collect()``, whether it succeeds or raises; a round's wall time is the sum over every key,
failed ones included. After each round, outside the timed region, each
key with an oracle must match DuckDB's ``oracle_sql()`` over the same
tables under the driver's comparison (column-name-sorted, stringified,
sorted rows); a rows-only key must return rows.
"""

from __future__ import annotations

import glob
import importlib
import os
import random
import shutil
import time

from perfbench.metrics import MODULES, STRATA
from perfbench.spans import log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
WARMUP_KEY = "q1_pricing_summary"  # the driver's entry() query; never sampled
SAMPLE_SEED = "perfbench-sweep-sample"
ORDER_SEED = "perfbench-sweep-order"

# draw_sample(key_modules()) at the commit that defined the benchmark
SAMPLE: dict[str, str] = {
    "relational": "q_promo_uplift_matching",
    "temporal": "q_asof_join",
    "statistics": "q_seasonal_dow_decompose",
    "text": "ann_mmr_diversify",
    "io": "q_bucketed_join",
    "citydir_geo": "geo_grid_density",
}


def key_modules() -> dict[str, str]:
    """queries() key -> name of the operator module that owns it."""
    out = {}
    for mod in MODULES:
        pkg = "streaming" if mod == "stream_ops" else "operators"
        for key in importlib.import_module(f"etl_city_directories_spark.{pkg}.{mod}").QUERIES:
            out[key] = mod
    return out


def draw_sample(modules: dict[str, str]) -> dict[str, str]:
    """One key per stratum, uniformly from all of its modules' keys."""
    rng = random.Random(SAMPLE_SEED)
    return {
        stratum: rng.choice(sorted(
            k for k, m in modules.items() if m in mods and k != WARMUP_KEY))
        for stratum, mods in STRATA.items()
    }


def canon(pdf) -> list[tuple]:
    """The driver's result hash, before hashing."""
    cols = sorted(pdf.columns)
    return sorted(tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False))


def check_key(oracle, key: str, df, rows) -> str | None:
    """Why ``key``'s collected rows are wrong, or None. ``oracle(key)``
    is DuckDB's answer, or None for a rows-only key."""
    import pandas as pd

    want = oracle(key)
    if want is None:
        return None if rows else "rows-only key returned no rows"
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
    if sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want):
        return None
    # collect() and toPandas() render some types differently; the
    # driver compares toPandas(), so that decides
    got = df.toPandas()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    g, w = canon(got), canon(want)
    if g != w:
        return f"{len(g)} rows vs oracle {len(w)}; first diff {next((a, b) for a, b in zip(g, w) if a != b) if len(g) == len(w) else ''}"
    return None


class Oracle:
    """DuckDB's answer per key over one set of tables, computed once."""

    def __init__(self, sf_dir: str, sqls: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        self.sqls = sqls
        self.answers: dict = {}

    def __call__(self, key: str):
        if key not in self.sqls:
            return None
        if key not in self.answers:
            self.answers[key] = self.con.execute(self.sqls[key]).fetchdf()
        return self.answers[key]

    def close(self) -> None:
        self.con.close()


def _round(bench, qs, oracle, keys, index: int) -> None:
    """One round over a fresh copy of the tables; checked afterwards."""
    spark, span = bench.spark, bench.tracer.span
    counted = index > 0
    sf_dir = os.path.join(bench.work, f"tables-{index}")
    shutil.copytree(DATA, sf_dir)
    done = []
    wall = 0.0
    oh0 = bench.tracer.overhead_s
    cpu = 0.0
    for key, stratum in keys:
        spark.catalog.clearCache()
        bench.attempted += 1
        df = rows = None
        with span("sweep.key", cpu=True, key=key, stratum=stratum, counted=counted) as ks:
            try:
                with span("sweep.construct", counted=counted):
                    df = qs[key](spark, sf_dir)
                if bench.trace:
                    with span("sweep.plan", counted=counted):
                        df._jdf.queryExecution().executedPlan()
                with span("sweep.collect", counted=counted):
                    rows = df.collect()
            except Exception as exc:
                bench.fail(key, f"{type(exc).__name__}: {str(exc)[:300]}")
        wall += ks["wall_s"]
        cpu += ks["cpu_s"]
        if counted:
            bench.record_op(key, ks)
        if rows is not None:
            done.append((key, df, rows))
    if counted:
        bench.record_pass(wall, cpu, bench.tracer.overhead_s - oh0)
    log(f"round {index}{'' if counted else ' (priming)'}: {wall:.3f} s, cpu {cpu:.2f} s")

    for key, df, rows in done:
        problem = check_key(oracle, key, df, rows)
        if problem:
            bench.fail(f"round {index} {key}", problem)
    spark.catalog.clearCache()
    shutil.rmtree(sf_dir, ignore_errors=True)


def operator_sweep(bench) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracle = Oracle(DATA, entry.oracle_sql())
    keys = [(k, stratum) for stratum, k in SAMPLE.items()]
    random.Random(ORDER_SEED).shuffle(keys)

    bench.setup(lambda spark, work: qs[WARMUP_KEY](spark, DATA).collect())
    _round(bench, qs, oracle, keys, 0)
    deadline = time.perf_counter() + bench.seconds
    i = 1
    while i == 1 or time.perf_counter() < deadline:
        _round(bench, qs, oracle, keys, i)
        i += 1
    bench.read_rss()
    oracle.close()

    if bench.trace:
        _per_layer(bench, i - 1)


def _per_layer(bench, rounds: int) -> None:
    """Totals over the counted rounds, per round."""
    t = bench.tracer
    pl = bench.per_layer

    def per_round(name, field, where=lambda s: True):
        return sum(s.get(field, 0.0) for s in t.named(name)
                   if s["counted"] and where(s)) / rounds

    pl["sweep.construct_s"] = per_round("sweep.construct", "wall_s")
    pl["sweep.construct_jobs"] = per_round("sweep.construct", "jobs")
    pl["sweep.plan_s"] = per_round("sweep.plan", "wall_s")
    pl["sweep.collect_s"] = per_round("sweep.collect", "wall_s")
    for c in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb"):
        pl[f"sweep.{c}"] = per_round("sweep.key", c)
    for stratum in STRATA:
        for field in ("wall_s", "cpu_s", "jobs"):
            pl[f"sweep.{stratum}.{field}"] = per_round(
                "sweep.key", field, lambda s, st=stratum: s["stratum"] == st)
