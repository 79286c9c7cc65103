"""Turns a run's passes and spans into the printed metrics."""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter

from perfbench.harness import SPARK_COUNTERS, tail_percentile

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> the span whose seconds it sums, per traced pass
LAYER_SPANS = {
    "queries.build_s": "queries.build",
    "queries.execute_s": "queries.execute",
    "db.write_data_s": "db.write_data",
    "db.append_s": "db.append",
    "db.build_index_s": "db.build_index",
    "db.indexed_scan_s": "db.indexed_scan",
    "sources.rtcdb_native.write_rtcdb_s": "sources.rtcdb_native.write_rtcdb",
    "sources.rtcdb_native.read_rtcdb_s": "sources.rtcdb_native.read_rtcdb",
    "sources.delta_log.append_delta_s": "sources.delta_log.append_delta",
    "sources.delta_log.merge_delta_s": "sources.delta_log.merge_delta",
    "sources.delta_log.delete_delta_s": "sources.delta_log.delete_delta",
    "sources.delta_log.optimize_delta_s": "sources.delta_log.optimize_delta",
    "sources.delta_log.read_delta_pruned_s": "sources.delta_log.read_delta_pruned",
    "sources.delta_log.read_delta_s": "sources.delta_log.read_delta",
    "sources.versioned.commit_s": "sources.versioned.commit",
    "sources.versioned.read_where_s": "sources.versioned.read_where",
    "streaming.sinks.stream_to_delta_s": "streaming.sinks.stream_to_delta",
}
DELTA_WRITES = (
    "sources.delta_log.append_delta",
    "sources.delta_log.merge_delta",
    "sources.delta_log.delete_delta",
    "sources.delta_log.optimize_delta",
)
SOURCES_WRITES = DELTA_WRITES + ("sources.rtcdb_native.write_rtcdb", "sources.versioned.commit")
STREAM = "streaming.sinks.stream_to_delta"

# The per-layer metrics of the result line: layers every workload calls.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.import_s": "s",
    **{
        f"spark.{c}": "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count"
        for c in SPARK_COUNTERS
    },
    "spark.core_idle_frac": "ratio",
    "functions.python_s": "s",
    "trace.overhead_s": "s",
}
# Layers only one workload calls go to the report line instead: on the
# other workload they would read a constant 0.
WORKLOAD_LAYERS = (
    "queries.build_jobs",
    "queries.build_driver_s",
    "queries.build_s",
    "queries.execute_s",
    "functions.udf_profile_s",
    *(name for name in LAYER_SPANS if not name.startswith("queries.")),
    "sources.rtcdb_native.blocks_kept_frac",
    "sources.delta_log.files_kept_frac",
    "sources.delta_log.jobs_per_commit",
    "sources.bytes_written_per_user_byte",
    "streaming.batches",
    "streaming.jobs_per_batch",
)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(spans, n_passes: int, cores: int, setup: dict, overhead_s: float) -> dict:
    """Per-pass means over the traced passes, for ``LAYER_UNITS`` and
    ``WORKLOAD_LAYERS``; a layer the workload never calls reads 0."""
    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def total(name: str, key: str | None = None) -> float:
        spans = by_name.get(name, [])
        return sum(sp.seconds if key is None else sp.attrs.get(key, 0) for sp in spans)

    ops = [sp for sp in spans if sp.parent is None]
    spark = Counter()
    for sp in ops:
        spark.update({c: sp.attrs.get(c, 0) for c in SPARK_COUNTERS})
    op_seconds = sum(sp.seconds for sp in ops)
    udf_s = sum(sum(sp.attrs.get("udf_profile_s", {}).values()) for sp in ops)

    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "queries.import_s": setup["import_s"],
        "queries.build_jobs": total("queries.build", "jobs") / n_passes,
        "queries.build_driver_s": total("queries.build", "driver_s") / n_passes,
    }
    m.update({f"spark.{c}": spark[c] / n_passes for c in SPARK_COUNTERS})
    m["spark.core_idle_frac"] = 1 - _ratio(spark["executor_run_s"], op_seconds * cores)
    m["functions.python_s"] = (spark["executor_run_s"] - spark["executor_cpu_s"]) / n_passes
    m["functions.udf_profile_s"] = udf_s / n_passes
    m.update({metric: total(name) / n_passes for metric, name in LAYER_SPANS.items()})
    rt = "sources.rtcdb_native.read_rtcdb"
    m["sources.rtcdb_native.blocks_kept_frac"] = _ratio(
        total(rt, "blocks_kept"), total(rt, "blocks_total")
    )
    dp = "sources.delta_log.read_delta_pruned"
    m["sources.delta_log.files_kept_frac"] = _ratio(
        total(dp, "files_kept"), total(dp, "files_total")
    )
    m["sources.delta_log.jobs_per_commit"] = _ratio(
        sum(total(n, "jobs") for n in DELTA_WRITES), sum(total(n, "commits") for n in DELTA_WRITES)
    )
    m["sources.bytes_written_per_user_byte"] = _ratio(
        sum(total(n, "bytes_written") for n in SOURCES_WRITES),
        sum(total(n, "user_bytes") for n in SOURCES_WRITES),
    )
    m["streaming.batches"] = total(STREAM, "commits") / n_passes
    m["streaming.jobs_per_batch"] = _ratio(total(STREAM, "jobs"), total(STREAM, "commits"))
    m["trace.overhead_s"] = overhead_s
    return m


def op_layers(spans, n_passes: int) -> dict:
    """Per operation, per-pass means over the traced passes of its jobs,
    executor run time, Python-worker time (``functions.python_s``) and
    time inside the query's ``fn()`` (0 for calls that are not queries)."""
    out: dict[str, Counter] = {}
    builds = {sp.parent: sp.seconds for sp in spans if sp.name == "queries.build"}
    for sp in spans:
        if sp.parent is not None:
            continue
        c = out.setdefault(sp.name.removeprefix("query:"), Counter())
        c["jobs"] += sp.attrs.get("jobs", 0) / n_passes
        c["executor_run_s"] += sp.attrs.get("executor_run_s", 0) / n_passes
        c["python_s"] += (
            sp.attrs.get("executor_run_s", 0) - sp.attrs.get("executor_cpu_s", 0)
        ) / n_passes
        c["build_s"] += builds.get(sp.id, 0.0) / n_passes
    return {name: dict(c) for name, c in out.items()}


def build(args, setup, cold, steady, checks, cov, rec, peak_rss_bytes, stored_bytes):
    """The result line (contract keys only) and the report line."""
    all_ops = list(cold.ops) + [op for p, _t, _w in steady for op in p.ops] + list(checks)
    failed = [op for op in all_ops if not op.ok]
    untraced = [p for p, traced, _w in steady if not traced]
    traced = [p for p, t, _w in steady if t]
    reads = [op.seconds for p in untraced for op in p.ops if op.kind == "read"]
    writes = [op.seconds for p in untraced for op in p.ops if op.kind == "write"]
    read_tail, read_pct, n_reads = tail_percentile(reads)

    info = {
        "workload": args.workload,
        "covariates": cov,
        "passes": {"cold": cold.seconds, "steady": [p.seconds for p, _t, _w in steady]},
        "read_tail": {"percentile": read_pct, "n": n_reads},
        "failed_frac": len(failed) / len(all_ops),
        "failed_ops": sorted({f"{op.name}: {op.error}" for op in failed}),
        "op_median_s": {
            name: statistics.median(xs)
            for name, xs in _group((op.name, op.seconds) for p in untraced for op in p.ops).items()
        },
    }
    if writes:
        write_tail, write_pct, n_writes = tail_percentile(writes)
        rows = sum(op.rows for p in untraced for op in p.ops)
        info.update(
            write_p50_s=statistics.median(writes),
            write_tail_s=write_tail,
            write_tail={"percentile": write_pct, "n": n_writes},
            ingest_rows_per_s=_ratio(rows, sum(writes)),
        )
    if stored_bytes is not None:
        user = sum(op.user_bytes for op in all_ops)
        info["bytes_stored_per_user_byte"] = _ratio(stored_bytes, user)

    if args.trace:
        overhead = statistics.median([w for _p, t, w in steady if t]) - statistics.median(
            [w for _p, t, w in steady if not t]
        )
        cores = cov["spark_graft_cpus"]
        values = layer_metrics(rec.spans, len(traced), cores, setup, overhead)
        info["layers"] = {k: values[k] for k in WORKLOAD_LAYERS}
        info["op_layers"] = op_layers(rec.spans, len(traced))
        units = LAYER_UNITS
    else:
        values = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": cold.seconds,
            "pass_s": statistics.median([p.seconds for p in untraced]),
            "read_p50_s": statistics.median(reads),
            "read_tail_s": read_tail,
            "peak_rss_mb": peak_rss_bytes / 2**20,
        }
        units = END_TO_END_UNITS
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return result, info


def _group(pairs):
    out: dict[str, list[float]] = {}
    for k, v in pairs:
        out.setdefault(k, []).append(v)
    return out


def write_spans(here: str, args, rec) -> str:
    """Write the run's spans as JSON lines; returns the path."""
    d = os.path.join(here, ".work", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
    with open(path, "w") as fh:
        for sp in rec.spans:
            fh.write(json.dumps(
                {"id": sp.id, "name": sp.name, "start": sp.start, "end": sp.end,
                 "parent": sp.parent, "op": sp.op, **sp.attrs},
                default=str,
            ) + "\n")
    return os.path.relpath(path, os.path.dirname(here))
