"""Per-layer metrics of the traced run, computed from its spans.

Each traced pass yields one value per metric; the run reports the median
over its traced passes. A metric of a layer the workload does not call
(the ETL on catalog_mix, the catalog on etl_star) reads 0."""

from __future__ import annotations

import json
import os
from dataclasses import fields

from perfbench.probe import ExecCounts
from perfbench.stats import core_busy_frac, median
from perfbench.trace import Span, Tracer, inclusive_counts, layer_self_times


def _declared() -> dict[str, str]:
    """name -> unit of every per-layer metric BENCHMARK.json declares."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


PER_LAYER = _declared()

_EXEC = [f.name for f in fields(ExecCounts)]


def _pass_values(spans: list[Span], wall_s: float, cores: int) -> dict[str, float]:
    """One traced pass's values. `wall_s` is the untraced median pass wall
    of the same run: the traced wall also holds the probe's own reads."""
    incl = inclusive_counts(spans)

    def dur(name: str) -> float:
        return sum(sp.duration for sp in spans if sp.name == name)

    def jobs(name: str) -> int:
        return sum(incl[sp.sid].jobs for sp in spans if sp.name == name)

    def attr_sum(key: str) -> float:
        return sum(sp.attrs.get(key, 0) for sp in spans)

    total = ExecCounts()
    for sp in spans:
        total.add(sp.counts)
    v = {f"spark.exec.{k}": getattr(total, k) for k in _EXEC}
    v["spark.exec.core_busy_frac"] = core_busy_frac(total.executor_run_s, wall_s, cores)
    for phase in ("analysis", "optimization", "planning"):
        v[f"spark.catalyst.{phase}_s"] = sum(
            sp.attrs["catalyst"][phase] for sp in spans if "catalyst" in sp.attrs
        )
    build_s = dur("plans.build")
    v.update(
        {
            "plans.build_s": build_s,
            "plans.build_jobs": jobs("plans.build"),
            "plans.build_share": build_s / wall_s,
            "operators.caching.persisted_bytes": attr_sum("persisted_bytes"),
            "operators.caching.released": attr_sum("released"),
            "etl.run_pipeline_s": dur("etl.run_pipeline"),
            "etl.write_star_s": dur("etl.write_star"),
            "etl.write_star_jobs": jobs("etl.write_star"),
            "etl.quality_report_s": dur("etl.quality_report"),
            "etl.quality_report_jobs": jobs("etl.quality_report"),
            "etl.metrics_s": dur("etl.metrics"),
            "star_reads.register_s": dur("star_reads.register"),
        }
    )
    return v


def per_layer(wl, get_spark_s, extras, traced, plain, cores) -> dict:
    """Every PER_LAYER metric as {"value", "unit"}. `extras` are the spans
    of the workload's traced-only calls made before the passes. Walls come
    from the untraced passes (`plain`), counts and layer times from the
    traced ones."""
    wall = median([r.wall_s for r in plain])
    per_pass = [_pass_values(spans, wall, cores) for _, spans in traced]
    values = {k: median([p[k] for p in per_pass]) for k in per_pass[0]}
    load = [sp.duration for sp in extras if sp.name == "sources.load_table"]
    read = [sp.duration for sp in extras if sp.name == "etl.read_sri_csv"]
    values["session.get_spark_s"] = get_spark_s
    values["sources.load_table_s"] = median(load) if load else 0.0
    values["etl.read_sri_csv_s"] = median(read) if read else 0.0
    values["star_reads.pass_s"] = 0.0
    if wl.name == "etl_star":  # the pass after its ETL job
        values["star_reads.pass_s"] = median([r.wall_s - r.ops[0].latency_s for r in plain])
    values.update({"etl.output_files": 0, "etl.output_bytes": 0, "etl.bytes_per_source_byte": 0.0})
    values.update(wl.layer_counts())
    values["trace.overhead_s"] = median([r.wall_s for r, _ in traced]) - wall
    return {k: {"value": values[k], "unit": unit} for k, unit in PER_LAYER.items()}


def write_trace(here, workload, seed, tracer: Tracer, metrics, report) -> str:
    """Write every span, self time per span name and per layer, and the
    per-layer metrics to perfbench/.work/traces/."""
    by_name = layer_self_times(tracer.spans)
    by_layer: dict[str, float] = {}
    for name, secs in by_name.items():
        layer = name.rsplit(".", 1)[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + secs
    out_dir = os.path.join(here, ".work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "report": report,
                "per_layer": metrics,
                "self_time_by_span": by_name,
                "self_time_by_layer": by_layer,
                "tracing_overhead_s": metrics["trace.overhead_s"]["value"],
                "spans": [sp.as_dict() for sp in tracer.spans],
            },
            fh,
            indent=1,
        )
    return path
