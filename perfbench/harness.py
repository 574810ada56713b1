"""What both workloads share: the run context, the timed window's bounds,
the traced pipeline drain, the analyst's sink queries, and the sink's
per-layer file and row tallies."""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from change_data_capture_service_spark.streaming.sink import (
    latest_state_view,
    read_dead_letters,
    read_event_log,
)

from .probes import dir_stats, stage_totals
from .tracing import Tracer

PG_TYPES = {20: "long", 23: "int", 25: "string"}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    trace: bool
    t_start: float  # process start (perf_counter)
    layer: dict = field(default_factory=dict)  # per-layer metrics gathered outside spans
    notes: dict = field(default_factory=dict)  # run facts echoed in the details line


def spark_schema(spec) -> str:
    return ", ".join(f"{c} {PG_TYPES[t]}" for c, t, _ in spec.columns)


def typed_rows(spec, rows: list[dict[str, str]]) -> list[tuple]:
    conv = [(c, int if PG_TYPES[t] in ("long", "int") else str) for c, t, _ in spec.columns]
    return [tuple(f(r[c]) for c, f in conv) for r in rows]


def drain(ctx: Ctx, pipe) -> None:
    """One ``CdcPipeline.start(available_now=True)`` run to termination,
    inside a ``pipeline.drain`` span carrying the progress split."""
    sc = ctx.spark.sparkContext
    with ctx.tracer.span("pipeline.drain") as sp:
        q = pipe.start(available_now=True)
        q.awaitTermination()  # raises if the query failed
        if ctx.trace:
            progress = q.recentProgress
            sp["epochs"] = len(progress)
            sp["input_rows"] = sum(p["numInputRows"] for p in progress)
            for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
                sp[k] = sum(p["durationMs"].get(k, 0) for p in progress)
            # the query's jobs run under its runId group, not the span's
            sp["stream_jobs"] = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))


class Background:
    """Runs one set-up step on its own thread; ``join`` re-raises its error.
    Set-up overlaps independent cold steps this way to keep runs short."""

    def __init__(self, fn):
        self._error: BaseException | None = None

        def target():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 - re-raised by join()
                self._error = e

        self._thread = threading.Thread(target=target, name="setup", daemon=True)
        self._thread.start()

    def join(self) -> None:
        self._thread.join()
        if self._error is not None:
            raise self._error


def open_window(ctx: Ctx) -> float:
    """Start the timed window: set-up ends here. A traced run first reads
    Spark's cumulative stage metrics, so ``spark.*`` covers the window."""
    if ctx.trace:
        ctx.notes["stages_t0"] = stage_totals(ctx.spark.sparkContext)
    t0 = time.perf_counter()
    ctx.notes["t0"] = t0
    ctx.notes["setup_s"] = t0 - ctx.t_start
    return t0


def close_window(ctx: Ctx) -> None:
    """End the timed window, before any correctness or layer-stat read."""
    ctx.notes["window_end"] = time.perf_counter()
    if ctx.trace:
        ctx.notes["stages_t1"] = stage_totals(ctx.spark.sparkContext)


# ---------------------------------------------------------------- analyst


def sink_queries(ctx: Ctx, sink_dir: str, table: str, schema, id_col: str, max_id: int, rng: random.Random):
    """The analyst's sink reads, all through ``latest_state_view``: the
    whole table, a key range, and a Kibana-style terms aggregation."""
    spark, tr = ctx.spark, ctx.tracer

    def view():
        return latest_state_view(spark, sink_dir, "public", table, schema)

    def latest_full():
        with tr.span("sink.latest_state"):
            view().write.format("noop").mode("overwrite").save()

    def key_range():
        lo = rng.randrange(max(max_id - 200, 1))
        with tr.span("sink.latest_state"):
            view().filter(F.col(id_col).between(lo, lo + 200)).collect()

    def terms_agg():
        with tr.span("sink.latest_state"):
            view().groupBy("status").agg(F.count("*").alias("n")).collect()

    return {"sink_latest_full": latest_full, "sink_key_range": key_range, "sink_terms_agg": terms_agg}


def traced(tr: Tracer, kind: str, fn):
    def run():
        with tr.span("query", kind=kind):
            fn()

    return run


# ------------------------------------------------------------ per-layer


def sink_layer_stats(ctx: Ctx, sink_dir: str, changelog_dir: str | None, events: int, tables: list[str]) -> None:
    """Files and bytes the sink and changelog hold per event written, dead
    letters, and how many log rows a latest-state read examines per live
    row returned (the read path's useful-to-attempted ratio)."""
    spark = ctx.spark
    files, size = dir_stats(sink_dir)
    _, log_bytes = dir_stats(changelog_dir) if changelog_dir else (0, 0)
    examined = returned = 0
    for t in tables:
        examined += read_event_log(spark, sink_dir, "public", t).count()
        returned += latest_state_view(spark, sink_dir, "public", t).count()
    scan_files, _ = dir_stats(
        sink_dir, include=lambda rel: rel.endswith(f"table_name={tables[0]}") or f"compacted/public_{tables[0]}" in rel
    )
    ctx.layer.update(
        {
            "sink.files": files,
            "sink.bytes_per_event": size / max(events, 1),
            "sink.dead_letters": read_dead_letters(spark, sink_dir).count(),
            "sink.scan_files": scan_files,
            "sink.rows_examined_per_row": examined / max(returned, 1),
            "changelog.bytes_per_event": log_bytes / max(events, 1),
            "pgoutput.dead_letters": spark.read.parquet(changelog_dir).filter(F.col("op") == "unknown").count()
            if changelog_dir and os.path.isdir(changelog_dir)
            else 0,
        }
    )
