"""End-to-end and per-layer metric definitions.

End-to-end metrics apply to every workload (the operation is the
workload's unit of work, see README.md) and are measured untraced.
Per-layer metrics come from the traced passes; a layer a workload does
not call reads 0. Time metrics are per pass (median over passes) unless
named per query, per read or per operation."""

from __future__ import annotations

from harness import median, tail
from spans import SPARK_METRICS

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
}


def _all_ops(passes) -> list[float]:
    return [x for p in passes for v in p.ops.values() for x in v]


def end_to_end(w, passes, setups: list[float]) -> dict:
    wall = median([p.wall_s for p in passes])
    values = {
        "setup_s": median(setups),
        "wall_s": wall,
        "rows_per_s": w.rows_per_pass() / wall,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def detail(workload: str, passes, setups: list[float]) -> dict:
    """Sample counts and the tail percentile behind the end-to-end
    figures, printed ahead of the result line."""
    ops = _all_ops(passes)
    kinds = {k for p in passes for k in p.ops}
    by_kind = {k: round(median([x for p in passes for x in p.ops.get(k, ())]), 3) for k in sorted(kinds)}
    return {"workload": workload, "passes": len(passes), "pass_walls_s": [p.wall_s for p in passes],
            "setups_s": setups, "ops": len(ops), "op_tail_percentile": tail(ops)[1],
            "op_median_by_kind_s": by_kind}


PER_LAYER = {  # name -> (unit, better)
    "session.start_s": ("s", "lower"),
    "cli.extract_s": ("s", "lower"),
    "cli.clean_s": ("s", "lower"),
    "cli.enrich_s": ("s", "lower"),
    "cli.gold_s": ("s", "lower"),
    "sources.read_json_s": ("s", "lower"),
    "sources.infer_jobs": ("count", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.files_written": ("count", "lower"),
    "sources.mean_file_kb": ("KiB", "higher"),
    "sources.bytes_written": ("bytes", "lower"),
    "sources.snapshot_commit_s": ("s", "lower"),
    "sources.commit_rewrite_bytes": ("bytes", "lower"),
    "sources.snapshot_read_s": ("s", "lower"),
    "sources.files_scanned_per_read": ("count", "lower"),
    "sources.compact_s": ("s", "lower"),
    "sources.compact_bytes_rewritten": ("bytes", "lower"),
    "operators.clean_s": ("s", "lower"),
    "operators.explode_rows_out": ("count", "lower"),
    "operators.enrich_s": ("s", "lower"),
    "functions.quality_gate_s": ("s", "lower"),
    "functions.exact_dedup_s": ("s", "lower"),
    "functions.minhash_pairs_s": ("s", "lower"),
    "functions.components_s": ("s", "lower"),
    "functions.components_jobs": ("count", "lower"),
    "functions.curation_gates_s": ("s", "lower"),
    "functions.embedding_lsh_s": ("s", "lower"),
    "functions.topk_s": ("s", "lower"),
    "functions.candidate_pairs": ("count", "lower"),
    "functions.candidate_precision": ("ratio", "higher"),
    "functions.ann_candidates_per_query": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.batches": ("count", "higher"),
    "plans.build_s": ("s", "lower"),
    "plans.exec_s": ("s", "lower"),
    "plans.jobs_per_query": ("count", "lower"),
    "plans.stages_per_query": ("count", "lower"),
    **{f"spark.{m}": ("s" if m.endswith("_s") else "count" if m == "tasks_failed" else "bytes", "lower")
       for m in SPARK_METRICS},
    "trace.overhead_s": ("s", "lower"),
    # workload-specific user-facing figures, reported here because the
    # end-to-end set must apply to every workload
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "query_tail_s": ("s", "lower"),
    "commit_p50_s": ("s", "lower"),
    "commit_tail_s": ("s", "lower"),
    "read_p50_s": ("s", "lower"),
    "read_tail_s": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "dedup_recall": ("ratio", "higher"),
    "dedup_precision": ("ratio", "higher"),
    "ann_recall_at_10": ("ratio", "higher"),
    "error_rate": ("ratio", "lower"),
}


def _per_pass(tracer, pass_span) -> dict:
    spans = [s for s in tracer.spans if pass_span["start"] <= s["start"] <= pass_span["end"]
             and s is not pass_span]

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def count(name: str, key: str) -> float:
        return sum(s.get("counts", {}).get(key, 0) for s in spans if s["name"] == name)

    def jobs(name: str) -> int:
        return sum(len(s["jobs"]) for s in spans if s["name"] == name)

    def n(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    def probe(kind: str) -> float:
        """Noop-sink execution of the frames the ``kind`` jobs wrote."""
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == "trace.noop_probe" and s.get("job") == kind)

    files = count("sources.write_table", "files_written") + count("sources.write_shards", "files_written")
    written = count("sources.write_table", "bytes_written") + count("sources.write_shards", "bytes_written")
    m = {
        **{f"cli.{k}_s": total(f"cli.{k}") - probe(k) for k in ("extract", "clean", "enrich", "gold")},
        "sources.read_json_s": total("sources.read_json"),
        "sources.infer_jobs": jobs("sources.read_json"),
        "sources.write_s": total("sources.write_table") - total("trace.noop_probe")
        + total("sources.write_shards"),
        "sources.files_written": files,
        "sources.mean_file_kb": written / files / 1024 if files else 0.0,
        "sources.bytes_written": written,
        "sources.snapshot_commit_s": total("sources.snapshot_commit"),
        "sources.commit_rewrite_bytes": count("sources.snapshot_commit", "rewrite_bytes"),
        "sources.snapshot_read_s": total("sources.snapshot_read") / max(1, n("sources.snapshot_read")),
        "sources.files_scanned_per_read": count("sources.snapshot_read", "files_scanned")
        / max(1, n("sources.snapshot_read")),
        "sources.compact_s": total("sources.compact"),
        "sources.compact_bytes_rewritten": count("sources.compact", "rewrite_bytes"),
        "operators.clean_s": total("operators.clean") + probe("clean"),
        "operators.enrich_s": total("operators.enrich") + probe("enrich"),
        **{f"functions.{k}_s": total(f"functions.{k}") for k in (
            "quality_gate", "exact_dedup", "minhash_pairs", "components", "curation_gates",
            "embedding_lsh", "topk")},
        "functions.components_jobs": jobs("functions.components"),
        "streaming.batch_s": sum(tracer.self_time(s) for s in spans if s["name"] == "streaming.batch"),
        "streaming.batches": count("streaming.batch", "batches"),
        "plans.build_s": median([s["end"] - s["start"] for s in spans if s["name"] == "plans.build"]),
        "plans.exec_s": median([s["end"] - s["start"] for s in spans if s["name"] == "plans.exec"]),
        "plans.jobs_per_query": jobs("plans.build") / max(1, n("plans.query"))
        + jobs("plans.exec") / max(1, n("plans.query")),
        "plans.stages_per_query": sum(s["stages"] for s in spans if s["name"] in ("plans.build", "plans.exec"))
        / max(1, n("plans.query")),
        # the traced wall of the pass, without the noop probes
        "trace.wall_s": pass_span["end"] - pass_span["start"] - total("trace.noop_probe"),
    }
    for metric in SPARK_METRICS:
        m[f"spark.{metric}"] = sum(s["spark"][metric] for s in spans + [pass_span]
                                   if s["name"] != "trace.noop_probe")
    return m


def per_layer(w, tracer, passes, starts: list[float], e2e: dict, peak_rss_mb: float,
              error_rate: float) -> dict:
    pass_spans = tracer.finished("pass")
    rows = [_per_pass(tracer, sp) for sp in pass_spans]
    values = {k: median([r[k] for r in rows]) for k in rows[0]}
    values["session.start_s"] = median(starts)
    values["trace.overhead_s"] = values.pop("trace.wall_s") - e2e["wall_s"]["value"]
    explode_rows_out = w.part_attr("explode_rows_out")
    if explode_rows_out is not None:
        values["operators.explode_rows_out"] = explode_rows_out()
    q = w.part_attr("quality_scores")
    if q is not None:
        values.update({f"functions.{k}": q[k] for k in
                       ("candidate_pairs", "candidate_precision", "ann_candidates_per_query")})
        values.update({k: q[k] for k in ("dedup_recall", "dedup_precision", "ann_recall_at_10")})
    ops = _all_ops(passes)
    values["op_p50_s"], values["op_tail_s"] = median(ops), tail(ops)[0]

    def in_passes(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in tracer.spans if s["name"] == name
                and any(p["start"] <= s["start"] <= p["end"] for p in pass_spans)]

    for metric, span in (("query", "plans.query"), ("commit", "streaming.batch"),
                         ("read", "sources.snapshot_read")):
        xs = in_passes(span)
        values[f"{metric}_p50_s"], values[f"{metric}_tail_s"] = median(xs), tail(xs)[0]
    values["write_amp"] = w.write_amp()
    values["peak_rss_mb"] = peak_rss_mb
    values["error_rate"] = error_rate
    out = {}
    for name, (unit, _) in PER_LAYER.items():
        out[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    return out
