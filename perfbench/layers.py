"""Per-layer metrics of a traced run, and its report table.

Sources: the spans of the traced phase (layer times, kernel calls, row
counts), Spark's event log grouped by job group (engine counters; the
untraced phase for per-job engine numbers so forcing does not distort them),
and the process sampler (memory, worker processes).

A metric of a layer that a workload does not run reads 0.
"""

from __future__ import annotations

import os

from .measure import PY_RECV, PY_RUN, PY_SENT, merge, median, read_event_log

MB = 2**20

# name -> unit, in report order
UNITS = {
    "session.boot_s": "s",
    "daemon.warm_s": "s",
    "python_workers.spawned": "count/job",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_read": "bytes",
    "sources.bytes_written": "bytes",
    "tensor_io.roundtrip_s": "s",
    "tensor_io.bytes_to_python": "bytes",
    "tensor_io.bytes_from_python": "bytes",
    "kernels.zoom_s": "s",
    "kernels.closing_s": "s",
    "kernels.label_s": "s",
    "kernels.edt_s": "s",
    "kernels.com_s": "s",
    "blob.zoom_s": "s",
    "blob.closing_s": "s",
    "blob.label_s": "s",
    "blob.edt_s": "s",
    "blob.com_s": "s",
    "operators.zoom.plan_s": "s",
    "operators.zoom.exec_s": "s",
    "operators.closing.plan_s": "s",
    "operators.closing.exec_s": "s",
    "operators.label.plan_s": "s",
    "operators.label.exec_s": "s",
    "operators.label.jobs": "count",
    "operators.com.plan_s": "s",
    "operators.com.exec_s": "s",
    "text.quality.exec_s": "s",
    "text.quality.kept_frac": "frac",
    "dedup.exact.exec_s": "s",
    "dedup.exact.kept_frac": "frac",
    "dedup.near.exec_s": "s",
    "dedup.near.candidate_pairs": "count",
    "dedup.near.pair_yield": "frac",
    "graph.cc.jobs": "count",
    "text.bpe.exec_s": "s",
    "curate.dsir.plan_s": "s",
    "curate.dsir.exec_s": "s",
    "curate.plan_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.residual_s": "s",
    "trace.wall_s": "s",
}


def _per_job(tracer, name: str) -> float:
    """Median over traced jobs of the summed duration of spans ``name``."""
    per: dict[str, float] = {}
    for s in tracer.spans:
        if s.name == name:
            per[s.job] = per.get(s.job, 0.0) + s.dur
    return median(list(per.values()))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(path)
               for f in names)


def _attr(tracer, name: str, key: str) -> list:
    return [s.attrs[key] for s in tracer.spans if s.name == name and key in s.attrs]


def layer_metrics(wl, tracer, event_log: str, sets, *, times, untraced_wall, traced, boot_s,
                  warm_daemon_s, spawned, sampler) -> tuple[dict, str]:
    ttimes, _, traced_wall = traced
    groups = read_event_log(event_log)
    n_u = max(len(times), 1)
    n_t = max(len(ttimes), 1)
    untraced = merge(groups, lambda g: g.startswith("u"))
    v: dict[str, float] = {k: 0.0 for k in UNITS}

    v["session.boot_s"] = boot_s
    v["daemon.warm_s"] = warm_daemon_s
    v["python_workers.spawned"] = spawned / (len(times) + len(ttimes) or 1)
    v["sources.read_s"] = _per_job(tracer, "sources.read")
    v["sources.write_s"] = _per_job(tracer, "sources.write")
    # the input files' size: Spark's input metrics miss most of a parquet
    # binary column read
    v["sources.bytes_read"] = median([_tree_bytes(s.path) for s in sets])
    v["sources.bytes_written"] = (
        merge(groups, lambda g: g.endswith("/sources.write")).output_bytes / n_t)
    v["tensor_io.roundtrip_s"] = _per_job(tracer, "tensor_io.roundtrip")
    v["tensor_io.bytes_to_python"] = untraced.sql.get(PY_SENT, 0) / n_u
    v["tensor_io.bytes_from_python"] = untraced.sql.get(PY_RECV, 0) / n_u
    for k in ("zoom", "closing", "label", "edt", "com"):
        v[f"kernels.{k}_s"] = median(tracer.totals(f"kernels.{k}"))
        v[f"blob.{k}_s"] = _per_job(tracer, f"blob.{k}")
    for op in ("zoom", "closing", "label", "com"):
        v[f"operators.{op}.plan_s"] = _per_job(tracer, f"operators.{op}.plan")
        v[f"operators.{op}.exec_s"] = _per_job(tracer, f"operators.{op}.exec")
    v["operators.label.jobs"] = (
        merge(groups, lambda g: g.endswith("/operators.label.plan")).jobs
        / max(len(tracer.totals("operators.label.plan")), 1))
    for stage, span in (("text.quality", "text.quality"), ("dedup.exact", "dedup.exact")):
        v[f"{stage}.exec_s"] = _per_job(tracer, span)
        ins, outs = _attr(tracer, span, "rows_in"), _attr(tracer, span, "rows_out")
        v[f"{stage}.kept_frac"] = sum(outs) / sum(ins) if sum(ins) else 0.0
    v["dedup.near.exec_s"] = _per_job(tracer, "dedup.near")
    cand, conf = _attr(tracer, "dedup.near", "candidate_pairs"), _attr(
        tracer, "dedup.near", "confirmed_pairs")
    v["dedup.near.candidate_pairs"] = median(cand)
    v["dedup.near.pair_yield"] = sum(conf) / sum(cand) if sum(cand) else 0.0
    v["graph.cc.jobs"] = merge(groups, lambda g: g.endswith("/graph.cc")).jobs / n_t
    v["text.bpe.exec_s"] = _per_job(tracer, "text.bpe")
    v["curate.dsir.plan_s"] = _per_job(tracer, "curate.dsir.plan")
    v["curate.dsir.exec_s"] = _per_job(tracer, "curate.dsir.exec")
    if wl.name == "corpus_curate":
        v["curate.plan_jobs"] = (
            merge(groups, lambda g: g.startswith("u") and g.endswith("/plan")).jobs / n_u)

    v["spark.jobs"] = untraced.jobs / n_u
    v["spark.stages"] = untraced.stages / n_u
    v["spark.tasks"] = untraced.tasks / n_u
    v["spark.executor_run_s"] = untraced.run_ms / 1e3 / n_u
    v["spark.executor_cpu_s"] = untraced.cpu_ns / 1e9 / n_u
    v["spark.gc_s"] = untraced.gc_ms / 1e3 / n_u
    v["spark.shuffle_write_bytes"] = untraced.shuffle_write_bytes / n_u
    v["spark.shuffle_write_s"] = untraced.shuffle_write_ns / 1e9 / n_u
    v["spark.shuffle_read_bytes"] = untraced.shuffle_read_bytes / n_u
    v["spark.spill_bytes"] = untraced.spill_bytes / n_u
    v["spark.python_s"] = untraced.sql.get(PY_RUN, 0) / 1e3 / n_u  # a millisecond metric
    v["jvm.peak_rss_mb"] = sampler.peak_jvm / MB

    roots = sum(s.dur for s in tracer.spans if s.parent is None)
    v["trace.wall_s"] = traced_wall
    v["trace.residual_s"] = traced_wall - roots
    v["trace.overhead_frac"] = (median(ttimes) / median(times) - 1.0) if times and ttimes else 0.0
    metrics = {k: {"value": float(v[k]), "unit": UNITS[k]} for k in UNITS}
    return metrics, _table(wl, tracer, v, times, ttimes, untraced_wall)


def _table(wl, tracer, v, times, ttimes, untraced_wall) -> str:
    lines = [f"## Traced run: {wl.name}", "",
             f"untraced phase: {len(times)} jobs in {untraced_wall:.2f} s; "
             f"traced phase: {len(ttimes)} jobs in {v['trace.wall_s']:.2f} s", "",
             "| per-layer metric | value | unit |", "|---|---:|---|"]
    for k, unit in UNITS.items():
        lines.append(f"| {k} | {v[k]:.6g} | {unit} |")
    lines += ["", "| span | count | self time s | share of traced wall |", "|---|---:|---:|---:|"]
    selfs = tracer.self_times()
    counts: dict[str, int] = {}
    for s in tracer.spans:
        counts[s.name] = counts.get(s.name, 0) + 1
    wall = v["trace.wall_s"] or 1.0
    for name, t in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(f"| {name} | {counts[name]} | {t:.4f} | {t / wall:.1%} |")
    total = sum(selfs.values()) + v["trace.residual_s"]
    lines.append(f"| (residual: between jobs, output checks) | | {v['trace.residual_s']:.4f} | "
                 f"{v['trace.residual_s'] / wall:.1%} |")
    lines += ["", f"self times + residual = {total:.4f} s; traced wall = {v['trace.wall_s']:.4f} s"]
    return "\n".join(lines) + "\n"
