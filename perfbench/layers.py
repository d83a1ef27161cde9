"""Which program calls the traced run wraps, and how spans become the
per-layer metrics of ``BENCHMARK.json``.

Every wrapped call is a module attribute the program (or the
benchmark) looks up at call time, so replacing the attribute puts a
span around each call without touching program code. Functions that
only build a lazy plan are wrapped with ``origin=True``: the frames
they return carry the function's name, and the jobs that later
execute them are reported under ``<function>.lazy``.
"""

from __future__ import annotations

import os
import statistics

from spans import SPAN_FIELDS, Tracer

PKG = "facolos_data_pipelines_spark"

# (module, attribute, origin)
WRAPPED = [
    ("pipelines.runner", "run_incremental_cycle", False),
    ("pipelines.runner", "run_backfill", False),
    ("pipelines.runner", "append_with_pk_rejection", False),
    ("pipelines.runner", "upsert_parquet", False),
    ("pipelines.runner", "multi_table_summary", True),
    ("pipelines.runner", "quality_gate", True),
    ("pipelines.runner", "_log_run", False),
    ("pipelines.registry", "due_sources", False),
    ("pipelines.registry", "mark_extracted", False),
    ("sources.io", "append_dedup", True),
    ("sources.io", "merge_upsert", True),
    ("operators.conform", "flatten_tiktok_orders", True),
    ("operators.conform", "flatten_misa_sale_orders", True),
    ("operators.conform", "align_to_schema", True),
    ("quality.monitor", "record_cycle", False),
    ("quality.monitor", "alert_conditions", False),
    ("operators.dedup", "minhash_lsh_buckets", True),
    ("operators.dedup_minhash", "lsh_candidate_pairs", True),
    ("operators.dedup_minhash", "verified_near_dup_pairs", True),
]


def install(tracer: Tracer) -> None:
    import importlib

    for mod, attr, origin in WRAPPED:
        tracer.wrap(importlib.import_module(f"{PKG}.{mod}"), attr, origin=origin)
    tracer.patch_actions()


def per_layer(tracer: Tracer, event_log_dir: str, e2e: dict, extra: dict,
              gc_s: float, units: int) -> dict[str, float]:
    """Flat ``<span>.<field>`` metrics, each span field averaged per
    timed unit, plus the workload's ratios/counts and the traced run's
    own end-to-end figures (``traced.*``: subtract the untraced run's
    metrics of the same seed to get the tracing overhead)."""
    out: dict[str, float] = {}
    per = 1.0 / max(1, units)
    spans, sites = tracer.fold(event_log_dir)
    for name, agg in spans.items():
        for field in SPAN_FIELDS:
            out[f"{name}.{field}"] = agg[field] * per
    print("busiest call sites (span: action at program line), per timed unit:")
    ranked = sorted(sites.items(), key=lambda kv: -sum(j["end"] - j["start"] for j in kv[1]))
    for site, jobs in ranked[:15]:
        job_s = sum(j["end"] - j["start"] for j in jobs)
        print(f"  {job_s * per:7.3f} s {len(jobs) * per:6.2f} jobs  {site}")
    out.update(extra)
    out["spark.gc_s"] = gc_s * per
    for k, v in e2e.items():
        out[f"traced.{k}"] = v["value"]
    return out


def stream_progress(progress: list) -> dict[str, float]:
    """Median per-batch durations from ``StreamingQuery.recentProgress``."""
    out = {}
    for key in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
        vals = []
        for p in progress:
            d = p.get("durationMs") if isinstance(p, dict) else getattr(p, "durationMs", None)
            if d and key in d:
                vals.append(float(d[key]))
        out[f"streaming.progress.{key}_ms"] = statistics.median(vals) if vals else 0.0
    return out


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
