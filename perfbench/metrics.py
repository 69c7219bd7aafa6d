"""Every metric the benchmark reports, with its unit, and for each
per-layer metric the end-to-end metric and workloads it should move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the
two in step.
"""

from __future__ import annotations

from perfbench.spans import COUNTERS

WORKLOADS = ("etl_full", "operator_sweep")

# Timings are CPU seconds of the benchmark's process tree (driver, JVM,
# Python workers), not wall seconds: on a shared 4-vCPU virtual machine
# the hypervisor's steal time moved the wall time of the same warm pass
# by up to 2.6x between runs, and its CPU time by up to 1.5x. The wall
# figures are kept as per-layer metrics and on stderr.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
    "jvm_peak_rss_mb": "MB",
}

STEPS = ("download", "parse", "geocode", "transform")
# a step's GC time is 0 in most passes, and nothing spills at these sizes
STEP_COUNTERS = tuple(c for c in COUNTERS if c not in ("gc_s", "spill_mb"))

# the sweep samples one key per stratum: a group of the operator modules
# whose QUERIES own the keys (sweep.<stratum>.*)
STRATA = {
    "relational": ("relational", "relational_ext", "partsupp", "analytics",
                   "windows", "shaping"),
    "temporal": ("temporal", "timeseries", "stream_ops", "forecast"),
    "statistics": ("stats", "nonparam", "mlfeatures", "curation"),
    "text": ("textstats", "dedup", "similarity", "linkage", "multimodal"),
    "io": ("ingest", "scale_ops"),
    "citydir_geo": ("citydir", "geo"),
}
MODULES = tuple(m for mods in STRATA.values() for m in mods)

# isolated layer calls: each ends in a noop sink so only that layer's
# work is timed
ISOLATED = {
    "sources.manifest.read_s": ("pass_cpu_s", ("etl_full",)),
    "sources.hocr.read_pages_s": ("pass_cpu_s", ("etl_full",)),
    "sources.hocr.parse_lines_s": ("pass_cpu_s", ("etl_full",)),
    "operators.citydir.parse_entries_s": ("pass_cpu_s", ("etl_full",)),
    "operators.citydir.geocode_s": ("pass_cpu_s", ("etl_full",)),
    "sources.ndjson.write_s": ("pass_cpu_s", ("etl_full",)),
    "sources.ndjson.read_s": ("pass_cpu_s", ("etl_full",)),
}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    return "count"


def per_layer() -> dict[str, tuple[str, tuple[str, ...]]]:
    """name -> (end-to-end metric it should move, workloads it moves it on)."""
    out: dict[str, tuple[str, tuple[str, ...]]] = {}
    # the wall-time view of the end-to-end CPU metrics, from the traced run
    out["wall_s"] = ("pass_cpu_s", WORKLOADS)
    out["query_p50_s"] = ("op_cpu_p50_s", WORKLOADS)
    out["query_tail_s"] = ("op_cpu_tail_s", WORKLOADS)
    for step in STEPS:
        for c in ("wall_s", "cpu_s") + STEP_COUNTERS:
            out[f"cli.{step}.{c}"] = ("pass_cpu_s", ("etl_full",))
    out.update(ISOLATED)
    sweep = ("operator_sweep",)
    for name in ("construct_s", "construct_jobs", "plan_s", "collect_s"):
        out[f"sweep.{name}"] = ("op_cpu_p50_s", sweep)
    for name in ("jobs", "stages", "tasks"):
        out[f"sweep.{name}"] = ("op_cpu_p50_s", sweep)
    for name in ("executor_run_s", "gc_s", "shuffle_write_mb"):
        out[f"sweep.{name}"] = ("op_cpu_tail_s", sweep)
    for stratum in STRATA:
        for c in ("wall_s", "cpu_s", "jobs"):
            out[f"sweep.{stratum}.{c}"] = ("pass_cpu_s", sweep)
    # heap the driver JVM still holds after a full collection: memos and caches
    out["jvm_live_heap_mb"] = ("jvm_peak_rss_mb", WORKLOADS)
    out["setup_wall_s"] = ("setup_s", WORKLOADS)
    out["session.start_s"] = ("setup_s", WORKLOADS)
    out["warmup_s"] = ("setup_s", WORKLOADS)
    # the tracer's own cost inside the passes of a traced run
    out["trace.overhead_s"] = ("pass_cpu_s", WORKLOADS)
    return out


def per_layer_units() -> dict[str, str]:
    return {name: _unit(name) for name in per_layer()}
