"""The ETL workload: the paper's 4-step pipeline (download, parse,
geocode, transform) over generated hOCR archives, with the built-in
address dim.

Steps are called through ``cli.step_*``, the public step runners behind
``cli.run``. Each step is one operation: it fails when it raises or when
its output disagrees with the generator's ledger. Checks run after each
pass, outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from perfbench import gen
from perfbench.metrics import STEP_COUNTERS
from perfbench.spans import log

ALL_STEPS = ("download", "parse", "geocode", "transform")


def _read_ndjson(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(part, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def check_step(step: str, count: int, work: str, ledger: dict) -> list[str]:
    """What is wrong with one step's output; empty when it matches."""
    problems = []
    if count != ledger[step]:
        problems.append(f"{step} count {count} != ledger {ledger[step]}")
    if step == "transform":
        out = os.path.join(work, "transform")
        ids = sorted(o["id"] for o in _read_ndjson(os.path.join(out, "objects.ndjson")))
        if ids != ledger["object_ids"]:
            wrong = len(set(ids) ^ set(ledger["object_ids"]))
            problems.append(f"object ids differ from the ledger ({wrong} ids differ)")
        for name in ("relations", "logs"):
            n = len(_read_ndjson(os.path.join(out, f"{name}.ndjson")))
            if n != ledger[name]:
                problems.append(f"{name} {n} != ledger {ledger[name]}")
    return problems


def _warmup(bench):
    """The tiny shape's manifest through the NDJSON sink and back: the
    first Spark jobs of a session. It starts no Python worker, so three
    set-ups stay cheap; the priming pass pays the workers' start."""
    from etl_city_directories_spark.sources.manifest import read_manifest
    from etl_city_directories_spark.sources.ndjson import read_ndjson, write_ndjson

    tiny = gen.inputs(bench.cache, "tiny", bench.seed)

    def warm(spark, work):
        out = os.path.join(work, "manifest.ndjson")
        write_ndjson(read_manifest(spark, tiny.manifest), out)
        read_ndjson(spark, out).count()
        shutil.rmtree(work, ignore_errors=True)

    return warm


def _passes(bench, inputs) -> str:
    """Closed loop of passes, each into a fresh work dir. The first pass
    primes the JVM and the Python workers and is left out of the
    end-to-end metrics: its CPU time holds the JIT compiler's background
    work, which lands in the pass or after it as the host's speed varies.
    Counted passes then repeat until --seconds is spent (at least one).
    Returns the last pass's work dir."""
    from etl_city_directories_spark import cli

    cfg = inputs.config()
    steps = list(ALL_STEPS)
    runners = {s: getattr(cli, f"step_{s}") for s in steps}
    deadline = None
    i = 0
    work = None
    while i < 2 or time.perf_counter() < deadline:
        if i == 1:
            deadline = time.perf_counter() + bench.seconds
        counted = i > 0
        if work:
            shutil.rmtree(work, ignore_errors=True)
        work = os.path.join(bench.work, f"pass-{i}")
        counts, step_s = {}, {}
        oh0 = bench.tracer.overhead_s
        with bench.tracer.span("pass", cpu=True, index=i, counted=counted) as p:
            for step in steps:
                bench.attempted += 1
                try:
                    with bench.tracer.span(f"cli.{step}", cpu=True, index=i,
                                           counted=counted) as s:
                        counts[step] = runners[step](bench.spark, cfg, work)
                except Exception as exc:
                    bench.fail(f"pass {i} step {step}", f"{type(exc).__name__}: {exc}")
                    rest = len(steps) - steps.index(step) - 1
                    bench.attempted += rest
                    bench.failed += rest
                    break
                step_s[step] = s["wall_s"]
                if counted:
                    bench.record_op(step, s)
        if counted:
            bench.record_pass(p["wall_s"], p["cpu_s"], bench.tracer.overhead_s - oh0)
        log(f"pass {i}{'' if counted else ' (priming)'}: {p['wall_s']:.3f} s,"
            f" cpu {p['cpu_s']:.2f} s ("
            + " ".join(f"{step} {t:.2f}" for step, t in step_s.items()) + ")")
        for step, count in counts.items():
            problems = check_step(step, count, work, inputs.ledger)
            if problems:
                bench.fail(f"pass {i} step {step}", "; ".join(problems))
        i += 1
    bench.read_rss()
    if bench.trace:
        for step in ALL_STEPS:
            spans = [sp for sp in bench.tracer.named(f"cli.{step}") if sp["counted"]]
            for c in ("wall_s", "cpu_s") + STEP_COUNTERS:
                bench.per_layer[f"cli.{step}.{c}"] = statistics.median(
                    [sp.get(c, 0.0) for sp in spans])
    return work


def _isolated_layers(bench, inputs, work: str) -> None:
    """Each layer alone over the same inputs, ending in a noop sink;
    the parse-step output in ``work`` feeds the post-parse layers."""
    from pyspark.sql import functions as F

    from etl_city_directories_spark.operators.citydir import (
        geocode_locations,
        parse_entries_real,
    )
    from etl_city_directories_spark.sources.hocr import parse_hocr_lines, read_hocr_pages
    from etl_city_directories_spark.sources.manifest import parse_manifest_html, read_manifest
    from etl_city_directories_spark.sources.ndjson import read_ndjson, write_ndjson

    spark = bench.spark
    span = bench.tracer.span

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn):
        with span(name) as s:
            fn()
        bench.per_layer[f"{name}_s"] = s["wall_s"]

    with open(inputs.manifest, encoding="utf-8") as f:
        rows = parse_manifest_html(f.read())
    by_count: dict[int, list[str]] = {}
    for r in rows:
        p = os.path.join(inputs.archives, f"{r['uuid']}.tar.gz")
        if os.path.exists(p):
            by_count.setdefault(r["column_count"], []).append(p)

    timed("sources.manifest.read", lambda: noop(read_manifest(spark, inputs.manifest)))
    timed("sources.hocr.read_pages",
          lambda: [noop(read_hocr_pages(spark, ps)) for ps in by_count.values()])
    timed("sources.hocr.parse_lines",
          lambda: [noop(parse_hocr_lines(read_hocr_pages(spark, ps), column_count=cc))
                   for cc, ps in by_count.items()])

    parsed = read_ndjson(spark, os.path.join(work, "parse", "lines.ndjson")).cache()
    parsed.count()
    raw = parsed.select("archive", "page_num", "image_id", "page_uuid", "line_index",
                        "x0", "y0", "x1", "y1", "column_index", "text").cache()
    raw.count()
    locs = parsed.select(
        "uuid", "page_num", "line_index",
        F.posexplode("locations").alias("loc_idx", "loc"),
    ).select("uuid", "page_num", "line_index", "loc_idx",
             F.col("loc.value").alias("loc_value")).cache()
    locs.count()

    timed("operators.citydir.parse_entries", lambda: noop(parse_entries_real(raw)))
    timed("operators.citydir.geocode", lambda: noop(geocode_locations(spark, locs)))
    out = os.path.join(bench.work, "isolated", "lines.ndjson")
    timed("sources.ndjson.write", lambda: write_ndjson(parsed, out))
    timed("sources.ndjson.read", lambda: noop(read_ndjson(spark, out)))
    for df in (parsed, raw, locs):
        df.unpersist()


def etl_full(bench) -> None:
    inputs = gen.inputs(bench.cache, "full", bench.seed)
    bench.setup(_warmup(bench))
    work = _passes(bench, inputs)
    if bench.trace:
        _isolated_layers(bench, inputs, work)
