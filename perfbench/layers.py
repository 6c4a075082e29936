"""Per-layer metrics of a traced pass, computed from spans and stage metrics.

Lazy layers (``operators.validation``, ``operators.transform``,
``sources``) run inside whichever action first needs them, so their work
is charged to that action's span (in ``pipeline_orders`` mostly the first
``describe_df``).  Splitting them out needs spans inside the package.

``LAYER_MAP`` records, for each metric, the package layer it observes, the
end-to-end metric it should move and the workloads on which it should
move it.
"""

from __future__ import annotations

from spans import Span, StageStore, Tracer, sum_stages
from workloads import RegistryOps

_QUERY_FIELDS = {
    "wall_s": "s",
    "exec_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "max_task_share": "ratio",
}

COMMON = {
    "trace.wall_s": "s",
    "trace.base_wall_s": "s",
    "trace_overhead": "ratio",
    "jobs": "count",
    "tasks": "count",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "core_util": "ratio",
    "scan_amplification": "ratio",
    "pyworker_cpu_s": "s",
    "cache.leaked_rdds": "count",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.pyworker_peak_rss_mb": "MB",
}

PIPELINE = {
    "inspect.describe_s": "s",
    "inspect.describe_share": "ratio",
    "inspect.describe_max_task_share": "ratio",
    "inspect.describe_shuffle_bytes": "bytes",
    "io.read_s": "s",
    "io.write_data_s": "s",
    "io.write_errors_s": "s",
    "io.write_stats_s": "s",
    "io.write_yaml_s": "s",
    "io.sizing_s": "s",
    "io.write_jobs": "count",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "plans.plan_s": "s",
    "pipeline.self_s": "s",
    "pipeline.accounted_share": "ratio",
}

QUERIES = {
    f"{q}.{f}": unit for q in RegistryOps.queries for f, unit in _QUERY_FIELDS.items()
}

UNITS = COMMON | PIPELINE | QUERIES

# the metrics only one workload measures; the other workload reports them
# as 0 (the per-layer JSON line carries every name)
OWN = {"pipeline_orders": PIPELINE, "registry_ops": QUERIES}

# span timings each workload must measure above 0 (checked by selftest.py,
# so a wrapper that stops taking effect does not pass as a zero)
SPAN_TIMINGS = {
    "pipeline_orders": [
        "inspect.describe_s", "io.read_s", "io.write_data_s", "io.write_errors_s",
        "io.write_stats_s", "io.write_yaml_s", "io.sizing_s", "plans.plan_s",
        "pipeline.self_s",
    ],
    "registry_ops": [f"{q}.wall_s" for q in RegistryOps.queries],
}

# metric prefix -> (layer, end-to-end metric it moves, workloads); the
# report-only peak_rss_mb line is not a gated end-to-end metric
LAYER_MAP = {
    "inspect.": ("operators.inspect", "wall_s", ["pipeline_orders"]),
    "io.": ("adapters.io", "wall_s", ["pipeline_orders"]),
    "io.bytes_written": ("adapters.io", "none: guards the output layout", ["pipeline_orders"]),
    "io.files_written": ("adapters.io", "none: guards the output layout", ["pipeline_orders"]),
    "plans.": ("plans.introspect", "wall_s", ["pipeline_orders"]),
    "pipeline.": ("services.pipeline", "wall_s", ["pipeline_orders"]),
    "q94_dup_spans.": ("functions.dedup", "wall_s", ["registry_ops"]),
    "q58_tfidf.": ("functions.text", "wall_s", ["registry_ops"]),
    "q204_bloom_prune_join.": ("operators.joins", "wall_s", ["registry_ops"]),
    "q22_sessionize.": ("operators.windows", "wall_s", ["registry_ops"]),
    "q46_salted_agg.": ("operators.aggregates", "wall_s", ["registry_ops"]),
    "scan_amplification": ("sources (recompute shows as > 1)", "wall_s", ["pipeline_orders", "registry_ops"]),
    # about 0 on registry_ops: q94_dup_spans and q58_tfidf run in the JVM,
    # so only a Python seam added to them would move it there
    "pyworker_cpu_s": ("Python workers", "wall_s", ["pipeline_orders", "registry_ops"]),
    "cache.leaked_rdds": ("persist/localCheckpoint sites",
                          "peak_rss_mb (report line only, not gated)", ["registry_ops"]),
    "mem.": ("session (Spark JVM) and Python workers",
             "peak_rss_mb (report line only, not gated)", ["pipeline_orders", "registry_ops"]),
    "": ("session (Spark engine)", "wall_s", ["pipeline_orders", "registry_ops"]),
}


def layer_of(metric: str) -> tuple[str, str, list[str]]:
    key = max((k for k in LAYER_MAP if metric.startswith(k)), key=len)
    return LAYER_MAP[key]


def _spans_named(tracer: Tracer, prefix: str):
    return [s for s in tracer.spans if s.name.startswith(prefix)]


def _inclusive(tracer: Tracer, spans, groups: dict) -> dict:
    stages, jobs = [], 0
    for sp in spans:
        for s in [sp, *tracer.descendants(sp)]:
            stages += groups[s.id]["stages"]
            jobs += groups[s.id]["jobs"]
    tot = sum_stages(stages)
    tot["jobs"] = jobs
    return tot


def _share(tot: dict) -> float:
    return tot["max_task_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0


def traced_metrics(
    workload, tracer: Tracer, store: StageStore, traced: Span, *,
    base_wall: float, cores: int, pyworker_s: float, leaked_rdds: int,
    written: tuple[int, int], peak_mb: tuple[float, float],
) -> dict[str, float]:
    """Per-layer metrics of the ``traced`` pass span: ``COMMON`` plus the
    workload's ``OWN`` metrics."""
    groups = store.by_group({s.id for s in tracer.spans})
    wall = traced.seconds
    everything = _inclusive(tracer, [traced], groups)
    m = {
        "trace.wall_s": wall,
        "trace.base_wall_s": base_wall,
        "trace_overhead": wall / base_wall,
        "jobs": everything["jobs"],
        "tasks": everything["tasks"],
        "spill_bytes": everything["spill_bytes"],
        "gc_s": everything["gc_ms"] / 1000.0,
        "core_util": everything["run_ms"] / 1000.0 / (wall * cores),
        "scan_amplification": everything["input_bytes"] / workload.source_bytes(),
        "pyworker_cpu_s": pyworker_s,
        "cache.leaked_rdds": leaked_rdds,
        "mem.jvm_peak_rss_mb": peak_mb[0],
        "mem.pyworker_peak_rss_mb": peak_mb[1],
    }

    def secs(prefix: str) -> float:
        return sum(s.seconds for s in _spans_named(tracer, prefix))

    if workload.name == "pipeline_orders":
        describe = _inclusive(tracer, _spans_named(tracer, "inspect.describe_df"), groups)
        writes = _spans_named(tracer, "io.write")
        run = _spans_named(tracer, "services.pipeline.run_pipeline")[0]
        m |= {
            "inspect.describe_s": secs("inspect.describe_df"),
            "inspect.describe_share": secs("inspect.describe_df") / wall,
            "inspect.describe_max_task_share": _share(describe),
            "inspect.describe_shuffle_bytes": describe["shuffle_write_bytes"],
            "io.read_s": secs("io.read"),
            "io.write_data_s": secs("io.write.data"),
            "io.write_errors_s": secs("io.write.errors"),
            "io.write_stats_s": secs("io.write.stats"),
            "io.write_yaml_s": secs("io.write.yaml"),
            "io.sizing_s": secs("io.sizing"),
            "io.write_jobs": _inclusive(tracer, writes, groups)["jobs"] / max(len(writes), 1),
            "io.bytes_written": written[0],
            "io.files_written": written[1],
            "plans.plan_s": secs("plans.optimized_plan_lines"),
            "pipeline.self_s": tracer.self_seconds(run),
            # child spans plus self time, as a share of the traced pass
            "pipeline.accounted_share": (
                sum(c.seconds for c in tracer.children(run)) + tracer.self_seconds(run)
            ) / wall,
        }
    else:
        for q in RegistryOps.queries:
            (span,) = _spans_named(tracer, f"query.{q}")
            tot = _inclusive(tracer, [span], groups)
            m |= {
                f"{q}.wall_s": span.seconds,
                f"{q}.exec_cpu_s": tot["cpu_ns"] / 1e9,
                f"{q}.shuffle_bytes": tot["shuffle_write_bytes"],
                f"{q}.max_task_share": _share(tot),
            }
    assert m.keys() == (COMMON | OWN[workload.name]).keys(), sorted(m)
    return m


def patch_targets() -> list:
    """The package calls wrapped by spans during a traced pass."""
    import polars_pipe_spark.adapters.io as io_mod
    import polars_pipe_spark.operators.inspect as inspect_mod
    import polars_pipe_spark.services.pipeline as pipeline_mod

    def write_name(_self, _data, path, *a, **k) -> str:
        p = str(path)
        kind = (
            "yaml" if p.endswith(".yaml")
            else "stats" if "/desc_stats/" in p
            else "errors" if p.rstrip("/").endswith("error_records")
            else "data"
        )
        return f"io.write.{kind}"

    return [
        (inspect_mod, "describe_df", lambda *a, **k: "inspect.describe_df"),
        (io_mod.IOBase, "read", lambda *a, **k: "io.read"),
        (io_mod.IOBase, "write", write_name),
        (io_mod, "estimate_rows_per_file", lambda *a, **k: "io.sizing"),
        # bound into services.pipeline at import, so patch that name
        (pipeline_mod, "optimized_plan_lines", lambda *a, **k: "plans.optimized_plan_lines"),
    ]

