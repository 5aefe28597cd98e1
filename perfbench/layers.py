"""Metric names, units and the layer -> metric -> workload prediction table.

``BENCHMARK.json`` lists the same metrics; a self-test keeps the two equal.
A metric that belongs to a module the workload never calls reads 0 (for
example ``checkpoint.jobs`` on ``dedup_chain``): that is the "flat"
prediction, measured.
"""

from __future__ import annotations

END_TO_END = [
    # name, unit, better, bound (share of the parent's median)
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_worker_rss_mb", "MB", "lower", 0.1),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("job.exchanges", "count", "lower"),
    ("job.shuffle_write_mb", "MB", "lower"),
    ("job.shuffle_records", "count", "lower"),
    ("job.shuffle_write_s", "s", "lower"),
    ("job.fetch_wait_s", "s", "lower"),
    ("job.spill_mb", "MB", "lower"),
    ("job.udf_task_skew", "ratio", "lower"),
    ("job.plan_only_s", "s", "lower"),
    ("udfs.py_start_s", "s", "lower"),
    ("udfs.py_init_s", "s", "lower"),
    ("udfs.py_run_s", "s", "lower"),
    ("udfs.to_py_mb", "MB", "lower"),
    ("udfs.from_py_mb", "MB", "lower"),
    ("udfs.rows", "count", "lower"),
    ("udfs.boundary_share", "ratio", "lower"),
    ("engine.us_per_span", "us", "lower"),
    ("engine.us_per_kb", "us", "lower"),
    ("engine.parse_share", "ratio", "lower"),
    ("engine.clean_share", "ratio", "lower"),
    ("engine.serialize_share", "ratio", "lower"),
    ("engine.tree_path_share", "ratio", "lower"),
    ("checkpoint.overhead_s", "s", "lower"),
    ("checkpoint.jobs", "count", "lower"),
    ("checkpoint.jobs_per_bucket", "count", "lower"),
    ("checkpoint.bytes_written_mb", "MB", "lower"),
    ("checkpoint.write_amp", "ratio", "lower"),
    ("dedup.jobs", "count", "lower"),
    ("dedup.shuffle_write_mb", "MB", "lower"),
    ("dedup.kernel_run_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("mem.jvm_rss_mb", "MB", "lower"),
    ("mem.jvm_heap_peak_mb", "MB", "lower"),
    ("scaling.eff_1to4", "ratio", "higher"),
    ("trace.docs_per_s", "docs/s", "higher"),
    ("trace.untraced_docs_per_s", "docs/s", "higher"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.spans", "count", "lower"),
]

# Which end-to-end metric each layer's metrics should move, on which
# workload, and where they should stay flat. Written before measuring.
PREDICTIONS = [
    {"layer": "pipeline.session", "prefix": "session.",
     "moves": "setup_s on all workloads", "flat_on": []},
    {"layer": "pipeline.job", "prefix": "job.",
     "moves": "docs_per_s on skew_ckpt", "flat_on": ["tame_nested"]},
    {"layer": "functions.udfs", "prefix": "udfs.",
     "moves": "docs_per_s on tame_nested, then skew_ckpt",
     "flat_on": ["dedup_chain"]},
    {"layer": "engine", "prefix": "engine.",
     "moves": "docs_per_s on tame_nested", "flat_on": ["dedup_chain"]},
    {"layer": "pipeline.checkpoint", "prefix": "checkpoint.",
     "moves": "docs_per_s on skew_ckpt",
     "flat_on": ["tame_nested", "dedup_chain"]},
    {"layer": "queries + functions.fingerprint/similarity", "prefix": "dedup.",
     "moves": "docs_per_s on dedup_chain", "flat_on": ["tame_nested"]},
    {"layer": "executors (all)", "prefix": "exec.",
     "moves": "docs_per_s on all workloads", "flat_on": []},
    {"layer": "process tree memory (driver JVM + Python workers)",
     "prefix": "mem.",
     "moves": "no bounded metric: the JVM share follows G1 heap sizing, "
              "which varies by about 20% between identical runs",
     "flat_on": []},
    {"layer": "scaling (local[1] baseline)", "prefix": "scaling.",
     "moves": "docs_per_s on all workloads", "flat_on": []},
    {"layer": "tracing itself", "prefix": "trace.",
     "moves": "nothing: the traced run is separate from the timed runs",
     "flat_on": []},
]


def zero_layers() -> dict:
    return {name: 0.0 for name, _, _ in PER_LAYER}


def derive(kind: str, timed: dict, traced_s: float, cores: int,
           setup: dict, extra: dict) -> dict:
    """Per-layer metrics of one workload from its traced run.

    ``timed`` is the REST window of the traced timed calls, which took
    ``traced_s``; ``extra`` holds the workload-specific sub-measurements
    (plan-only run, engine replay, pair counts, scaling calls, the untraced
    reference calls)."""
    from .spark_rest import python_node_totals, stage_totals

    m = zero_layers()
    st = stage_totals(timed["stages"])
    py = python_node_totals(timed["executions"])
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["exec.cpu_s"] = st["cpu_s"]
    m["exec.run_s"] = st["run_s"]
    m["exec.gc_s"] = st["gc_s"]
    m["exec.cpu_util"] = st["cpu_s"] / (traced_s * cores)
    m["mem.peak_rss_mb"] = extra["peak_rss"]["total"] / 2**20
    m["mem.jvm_rss_mb"] = extra["peak_rss"]["jvm"] / 2**20
    m["mem.jvm_heap_peak_mb"] = extra["jvm_heap_peak_mb"]
    m["trace.docs_per_s"] = extra["dps_traced"]
    m["trace.untraced_docs_per_s"] = extra["dps_untraced"]
    m["trace.overhead_share"] = 1 - extra["dps_traced"] / extra["dps_untraced"]
    m["scaling.eff_1to4"] = extra[f"dps_{cores}core"] / extra["dps_1core"] / cores
    if kind == "dedup":
        m["dedup.jobs"] = len(timed["jobs"])
        m["dedup.shuffle_write_mb"] = st["shuffle_write_mb"]
        m["dedup.kernel_run_s"] = py["py_run_s"]
        m["dedup.candidate_pairs"] = extra["candidate_pairs"]
        m["dedup.verified_pairs"] = extra["verified_pairs"]
        m["dedup.verify_yield"] = (extra["verified_pairs"]
                                   / max(extra["candidate_pairs"], 1))
        return m
    for key in ("shuffle_write_mb", "shuffle_records", "shuffle_write_s",
                "fetch_wait_s", "spill_mb"):
        m[f"job.{key}"] = st[key]
    m["job.exchanges"] = extra["exchanges"]
    m["job.plan_only_s"] = extra["plan_only_s"]
    m["job.udf_task_skew"] = extra["udf_task_skew"]
    for key in ("py_start_s", "py_init_s", "py_run_s", "to_py_mb",
                "from_py_mb", "rows"):
        m[f"udfs.{key}"] = py[key]
    eng = extra["engine"]
    for key, value in eng.items():
        m[f"engine.{key}"] = value
    kernel_s = eng["us_per_span"] * 1e-6 * extra["text_spans"]
    if py["py_run_s"] > 0:
        m["udfs.boundary_share"] = max(0.0, 1 - kernel_s / py["py_run_s"])
    if kind == "checkpoint":
        m["checkpoint.overhead_s"] = traced_s - extra["plan_only_s"]
        m["checkpoint.jobs"] = len(timed["jobs"])
        m["checkpoint.jobs_per_bucket"] = len(timed["jobs"]) / extra["buckets"]
        m["checkpoint.bytes_written_mb"] = st["output_mb"]
        m["checkpoint.write_amp"] = (st["output_mb"] * 2**20
                                     / extra["input_bytes"])
    return m
