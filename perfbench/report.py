"""Turns a workload's raw results into the printed metrics.

End-to-end metrics (``--trace 0``) are identical in name and unit on
every workload; per-layer metrics (``--trace 1``) are too, reading 0
where a workload does not call that layer."""

from __future__ import annotations

import statistics

from .loop import percentile
from .tracing import self_times

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "query_round_s": "s",
}

OPERATORS = (
    "agg_sum_avg_minmax_count",
    "join_multi",
    "latest_state",
    "knn_cosine_topk",
)

# per-layer metric -> unit. "_s" metrics are mean seconds per call inside
# the timed window unless noted in README.md; counts are window totals.
LAYER_UNITS = {
    "session.start_s": "s",
    "walsender.pump_s": "s",
    "walsender.frames": "count",
    "walsender.bytes": "bytes",
    "walsender.standby_replies": "count",
    "pgoutput.relations_s": "s",
    "pgoutput.decode_s": "s",
    "pgoutput.events": "count",
    "pgoutput.dead_letters": "count",
    "pgoutput.jobs": "count",
    "snapshot.write_s": "s",
    "snapshot.rows": "count",
    "changelog.append_s": "s",
    "changelog.bytes_per_event": "bytes",
    "envelope.encode_s": "s",
    "pipeline.drain_s": "s",
    "pipeline.epochs": "count",
    "pipeline.input_rows": "count",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.jobs_per_epoch": "count",
    "sink.write_s": "s",
    "sink.files": "count",
    "sink.bytes_per_event": "bytes",
    "sink.dead_letters": "count",
    "sink.compact_s": "s",
    "sink.compact_kept": "count",
    "sink.latest_state_s": "s",
    "sink.scan_files": "count",
    "sink.rows_examined_per_row": "ratio",
    "es_sink.post_s": "s",
    "es_sink.requests": "count",
    "es_sink.bytes": "bytes",
    "es_sink.actions_per_request": "count",
    "es_sink.jobs": "count",
    "es_sink.failed": "count",
    **{f"operators.{k}_s": "s" for k in OPERATORS},
    "operators.jobs": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
    "proc.peak_rss_mb": "MB",
    "gen.late_s": "s",
    "gen.backlog_events_end": "count",
    "check.error_rate": "ratio",
    "check.mismatch_rate": "ratio",
    "check.compact_read_failures": "count",
    "trace.overhead_s": "s",
    "trace.cycle_coverage": "ratio",
}


def _mean_s(spans, name):
    d = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return sum(d) / len(d) if d else 0.0


def _attr(spans, name, key):
    return sum(s.get(key, 0) for s in spans if s["name"] == name)


def _layers(ctx, spans_all, loop, rate_errors, mismatch_rate) -> dict[str, float]:
    t0 = ctx.notes["t0"]
    spans = [s for s in spans_all if s["start"] >= t0]
    out = {k: 0.0 for k in LAYER_UNITS}
    epochs = _attr(spans, "pipeline.drain", "epochs")
    cycles = [s for s in spans if s["name"] == "cycle"]
    selfs = self_times(spans)
    ops = [s for s in spans if s["name"].startswith("operators.")]
    out.update(
        {
            "walsender.pump_s": _mean_s(spans, "walsender.pump"),
            "walsender.frames": _attr(spans, "walsender.pump", "frames"),
            "walsender.bytes": _attr(spans, "walsender.pump", "bytes"),
            "walsender.standby_replies": _attr(spans, "walsender.pump", "standby"),
            "pgoutput.relations_s": _mean_s(spans, "pgoutput.relations"),
            "pgoutput.decode_s": _mean_s(spans, "pgoutput.decode"),
            "pgoutput.events": _attr(spans, "pgoutput.decode", "events"),
            "pgoutput.jobs": _attr(spans, "pgoutput.relations", "jobs") + _attr(spans, "pgoutput.decode", "jobs"),
            "snapshot.write_s": _mean_s(spans_all, "snapshot.write"),
            "snapshot.rows": _attr(spans_all, "snapshot.write", "rows"),
            "changelog.append_s": _mean_s(spans, "changelog.append"),
            "envelope.encode_s": _mean_s(spans, "envelope.encode"),
            "pipeline.drain_s": _mean_s(spans, "pipeline.drain"),
            "pipeline.epochs": epochs,
            "pipeline.input_rows": _attr(spans, "pipeline.drain", "input_rows"),
            "pipeline.jobs_per_epoch": _attr(spans, "pipeline.drain", "stream_jobs") / max(epochs, 1),
            "sink.write_s": _mean_s(spans, "sink.write"),
            "sink.compact_s": _mean_s(spans_all, "sink.compact"),
            "sink.compact_kept": _attr(spans_all, "sink.compact", "kept"),
            "sink.latest_state_s": _mean_s(spans, "sink.latest_state"),
            "es_sink.post_s": _mean_s(spans, "es_sink.post"),
            "es_sink.jobs": _attr(spans, "es_sink.post", "jobs"),
            "es_sink.failed": sum(1 for s in spans if s["name"] == "es_sink.post" and "error" in s),
            "operators.jobs": sum(s["jobs"] for s in ops) / max(len(ops), 1),
            "gen.late_s": loop.late_s,
            "gen.backlog_events_end": loop.backlog_end,
            "check.error_rate": rate_errors,
            "check.mismatch_rate": mismatch_rate,
            "trace.overhead_s": ctx.tracer.overhead_s,
            "trace.cycle_coverage": sum(s["end"] - s["start"] - selfs[s["id"]] for s in cycles)
            / max(sum(s["end"] - s["start"] for s in cycles), 1e-9),
        }
    )
    for key, ms in (
        ("latestOffset", "latest_offset_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        out[f"pipeline.{ms}"] = _attr(spans, "pipeline.drain", key) / max(epochs, 1)
    for k in OPERATORS:
        out[f"operators.{k}_s"] = _mean_s(spans, f"operators.{k}")
    for k, v in ctx.layer.items():
        if k in out:
            out[k] = v
    return out


def assemble(ctx, result: dict, meta: dict, peak_kb: int, late_bound_s: float) -> tuple[dict, dict]:
    loop, qs, check = result["loop"], result["queries"], result["check"]
    t0 = ctx.notes["t0"]
    generator_late = loop.late_s > late_bound_s
    attempted = 1 + loop.cycles + result.get("posts", 0) + qs.attempted
    failed = int(generator_late) + loop.failed_cycles + qs.failed
    extra_bad = result.get("extra_unexplained", 0)
    correct = check.unexplained == 0 and extra_bad == 0 and failed == 0
    e2e = {
        "setup_s": ctx.notes["setup_s"],
        "events_per_s": loop.delivered / max(loop.last_commit - t0, 1e-9),
        "freshness_p50_s": percentile(loop.freshness_s, 50),
        "freshness_p90_s": percentile(loop.freshness_s, 90),
        "query_round_s": statistics.median(qs.round_s) if qs.round_s else 0.0,
    }
    ctx.layer["proc.peak_rss_mb"] = peak_kb / 1024
    details = {
        **meta,
        "offered_rate_per_s": ctx.notes.get("offered_rate_per_s"),
        "offered_changes": loop.offered,
        "delivered_changes": loop.delivered,
        "cycles": loop.cycles,
        "queries": qs.attempted,
        "query_rounds_s": qs.round_s,
        "query_round_due_s": statistics.median(qs.round_due_s) if qs.round_due_s else None,
        "query_p50_s": percentile(qs.latency_s, 50),
        "query_mean_s_by_kind": {k: sum(v) / len(v) for k, v in sorted(qs.by_kind.items())},
        "generator_late_s": loop.late_s,
        "generator_late_bound_s": late_bound_s,
        "backlog_changes_end": loop.backlog_end,
        "error_rate": failed / attempted,
        "mismatch_rate": check.mismatch_rate,
        "live_keys": check.live_keys,
        "mismatched_keys": len(check.mismatched),
        "mismatched_by_store": check.by_store,
        "known_defects": {
            "composite_key_separator": len(check.composite_sep),
            "compact_under_reader": int(ctx.notes.get("compact_under_reader_error") is not None),
        },
        "unexplained_mismatches": check.unexplained + extra_bad,
        "errors": (loop.errors + qs.errors)[:5],
        "end_to_end": e2e,
        "peak_rss_mb": peak_kb / 1024,
        "window_end_at_s": ctx.notes["window_end"] - ctx.t_start,
        **{k: v for k, v in ctx.notes.items() if k not in ("t0", "window_end", "stages_t0", "stages_t1")},
    }
    if ctx.trace:
        metrics = _layers(ctx, ctx.tracer.spans, loop, failed / attempted, check.mismatch_rate)
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    final = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return final, details
