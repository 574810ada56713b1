"""`replicate`: the wire path under an open loop.

Set-up snapshots users / order_items / carts through
``CdcPipeline.snapshot``, drains them into the routed sink, indexes the
snapshot into the Elasticsearch mock and runs one warm-up cycle. Then
the generator offers ``RATE`` changes per second; each cycle takes the
transactions released so far and runs them through MockWalSender ->
``WalSenderClient.pump`` -> ``collect_relation_versions`` +
``decode_pgoutput_frames`` -> changelog append -> pipeline drain ->
``EsBulkSink(mode="state")``. A change is fresh when the cycle that
carried it has committed to both stores. After the window an analyst
reads each replicated table in six rounds, three untimed and three
timed; the last read is the correctness check too."""

from __future__ import annotations

import json
import time
import urllib.request

from change_data_capture_service_spark.sources.pgoutput import (
    collect_relation_versions,
    decode_pgoutput_frames,
)
from change_data_capture_service_spark.sources.walsender import WalSenderClient, frames_to_df
from change_data_capture_service_spark.streaming.es_sink import EsBulkSink
from change_data_capture_service_spark.streaming.pipeline import CdcPipeline
from change_data_capture_service_spark.streaming.sink import latest_state_view
from change_data_capture_service_spark.streaming.snapshot import snapshot_table
from change_data_capture_service_spark.testing.es_mock import MockEs
from change_data_capture_service_spark.testing.walsender_mock import MockWalSender, _keepalive

from . import gen, harness, oracle
from .loop import OpenLoop, QueryStats

RATE = 60.0  # offered changes per second
WARMUP_S = 2.0  # changes due before the window, delivered by the untimed warm-up cycle
# A cycle every 7 s, longer than one cycle takes here (about 5.5 s), so
# the offered load is sustainable and each cycle's delay stays its own. At
# 5 s cycles overran their slot, each overrun delayed the next cycle, and
# freshness p50 spread 0.26 over seven seeds.
TRIGGER_S = 7.0
# Rounds of the analyst's reads after the window: untimed ones first,
# then timed ones whose median is the metric. A round lasts about 2 s
# and still speeds up by 20-30% over its first three repeats as the JVM
# warms. With one untimed round, the median of five timed ones followed
# how fast a run warmed and spread 0.19 over four seeds.
WARM_ROUNDS = 3
QUERY_ROUNDS = 3


class CountingEs(MockEs):
    """MockEs that also counts bulk actions (for actions per request)."""

    def __init__(self):
        super().__init__()
        self.actions = 0

    def _merge(self, ops):
        self.actions += len(ops)
        return super()._merge(ops)


def _script(txns: list[gen.Txn]) -> list[bytes]:
    """What a fresh replication connection streams for this batch: the
    relations in force, the transactions, then a reply-required keepalive."""
    frames = [gen.relation_frame(spec, gen.FIRST_LSN) for spec in txns[0].relations]
    for t in txns:
        frames.extend(t.frames)
    frames.append(_keepalive(txns[-1].changes[-1].lsn, reply=True))
    return frames


def _pump(frames: list[bytes]) -> tuple[list[bytes], MockWalSender]:
    """Stream ``frames`` from a fresh mock walsender through the client.
    The mock may hit a closed socket while sending its trailing
    CommandComplete/ReadyForQuery after the client, having seen CopyDone,
    hangs up; that race is the mock's and is ignored once every frame has
    arrived intact."""
    srv = MockWalSender(frames).__enter__()
    try:
        with WalSenderClient(port=srv.port, user="bench", dbname="bench", timeout=30) as client:
            client.start_replication("bench_slot", "bench_pub")
            got = list(client.pump(deadline_s=60))
    finally:
        srv._thread.join(timeout=5)
    if got != frames:
        raise RuntimeError(f"walsender delivered {len(got)} of {len(frames)} frames")
    if srv.error is not None and not isinstance(srv.error, (BrokenPipeError, ConnectionResetError)):
        raise srv.error
    return got, srv


def _bulk_delete(url: str, index: str, ids: list[str]) -> None:
    body = "".join(json.dumps({"delete": {"_index": index, "_id": i}}) + "\n" for i in ids).encode()
    req = urllib.request.Request(f"{url}/_bulk", data=body, headers={"Content-Type": "application/x-ndjson"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        if json.loads(resp.read()).get("errors"):
            raise RuntimeError("fence cleanup bulk reported errors")


def run(ctx: harness.Ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    stream = gen.ReplicateStream(ctx.seed, rate=RATE, seconds=ctx.seconds, warmup_s=WARMUP_S)
    ctx.notes["offered_rate_per_s"] = RATE
    w = ctx.work
    pipe = CdcPipeline(
        spark, changelog_dir=f"{w}/changelog", sink_dir=f"{w}/sink", checkpoint_dir=f"{w}/ckpt", fmt="parquet"
    )
    es = CountingEs().__enter__()
    es_sink = EsBulkSink(es.url, mode="state")
    applied_fences: set[str] = set()
    epoch = [0]

    def post(df) -> None:
        before = es.bulk_requests
        with tr.span("es_sink.post") as sp:
            es_sink(df, epoch[0])
            sp["requests"] = es.bulk_requests - before
        epoch[0] += 1

    def fence_cleanup() -> None:
        """The sink's documented out-of-band step for TRUNCATE: delete the
        truncated index's documents at or below each new fence LSN."""
        state = es.snapshot()
        for fid, doc in state.get("cdc_control", {}).items():
            if fid in applied_fences:
                continue
            index = f"cdc_{doc['schema_name']}_{doc['table_name']}"
            stale = [i for i, d in state.get(index, {}).items() if d["lsn"] <= doc["lsn"]]
            with tr.span("es_sink.fence_cleanup"):
                if stale:
                    _bulk_delete(es.url, index, stale)
            applied_fences.add(fid)

    try:
        # ---- set-up: snapshot into the changelog; the warm-up cycle below
        # drains it with the first changes and indexes it into ES
        snap_envs = []

        def write_snapshots() -> None:
            for spec in gen.REPLICATED:
                rows = stream.snapshot[spec.name]
                df = spark.createDataFrame(harness.typed_rows(spec, rows), harness.spark_schema(spec))
                with tr.span("snapshot.write", rows=len(rows)):
                    pipe.snapshot(df, "public", spec.name, list(spec.key_cols))
                snap_envs.append(
                    snapshot_table(df, schema_name="public", table_name=spec.name, pk_cols=list(spec.key_cols))
                )

        snapshots = harness.Background(write_snapshots)

        def deliver(txns: list[gen.Txn]) -> float:
            with tr.span("cycle", changes=sum(len(t.changes) for t in txns)):
                frames = _script(txns)
                with tr.span("walsender.pump") as sp:
                    got, srv = _pump(frames)
                    sp.update(frames=len(got), bytes=sum(map(len, got)), standby=len(srv.status_updates))
                with tr.span("walsender.frames_to_df"):
                    fdf = frames_to_df(spark, got)
                with tr.span("pgoutput.relations"):
                    rels = collect_relation_versions(fdf)
                with tr.span("pgoutput.decode") as sp:
                    dec = decode_pgoutput_frames(fdf, rels).persist()
                    sp["events"] = dec.count()
                try:
                    snapshots.join()  # the warm-up cycle drains the snapshot too
                    with tr.span("changelog.append"):
                        dec.write.mode("append").format("parquet").save(pipe.changelog_dir)
                    harness.drain(ctx, pipe)
                    out = dec
                    while snap_envs:  # the warm-up cycle also indexes the snapshot
                        out = snap_envs.pop().unionByName(out)
                    post(out)
                    if any(ch.op == "truncate" for t in txns for ch in t.changes):
                        fence_cleanup()
                finally:
                    dec.unpersist()
            return time.perf_counter()

        warm = [t for t in stream.txns if t.due < 0]
        deliver(warm)
        loop = OpenLoop(stream.txns, ctx.seconds, TRIGGER_S, deliver)

        stats = loop.run(harness.open_window(ctx))
        harness.close_window(ctx)

        # ---- correctness, outside the timed region. Full-table latest-state
        # reads of the three replicated tables are also the analyst's queries
        # over the state the window left behind: WARM_ROUNDS untimed rounds
        # compile and warm the plans, the next QUERY_ROUNDS are timed (the
        # metric is their median), and the last is checked against the truth.
        truth = stream.truth()
        check = oracle.StateCheck(live_keys=truth.live())
        es_state = es.snapshot()
        qstats = QueryStats()
        found: dict[str, list] = {}
        for timed in [False] * WARM_ROUNDS + [True] * QUERY_ROUNDS:
            start = time.perf_counter()
            for spec in gen.REPLICATED:
                with tr.span("query", kind="sink_latest_full"), tr.span("sink.latest_state"):
                    t = time.perf_counter()
                    view = latest_state_view(spark, pipe.sink_dir, "public", spec.name)
                    found[spec.name] = view.select("key", "after").collect()
                    if timed:
                        qstats.record("sink_latest_full", time.perf_counter() - t)
            if timed:
                qstats.round_s.append(time.perf_counter() - start)
        for spec in gen.REPLICATED:
            want = truth.tables[spec.name]
            rows = [(r.key, r.after) for r in found[spec.name]]
            oracle.compare_table(check, "sink", spec.name, spec.key_cols, want, rows)
            docs = es_state.get(f"cdc_public_{spec.name}", {})
            oracle.compare_table(
                check, "es", spec.name, spec.key_cols, want, [(k, d.get("data")) for k, d in docs.items()]
            )
        dead_es = len(es_state.get("cdc_dead_letter", {}))

        if ctx.trace:
            n_events = sum(len(v) for v in stream.snapshot.values()) + stats.delivered + sum(
                len(t.changes) for t in warm
            )
            harness.sink_layer_stats(
                ctx, pipe.sink_dir, pipe.changelog_dir, n_events, [s.name for s in gen.REPLICATED]
            )
            ctx.layer.update(
                {
                    "es_sink.bytes": es.bulk_bytes,
                    "es_sink.requests": es.bulk_requests,
                    "es_sink.actions_per_request": es.actions / max(es.bulk_requests, 1),
                }
            )
    finally:
        es.__exit__(None, None, None)

    return {
        "loop": stats,
        "queries": qstats,
        "check": check,
        "posts": es.bulk_requests,
        "extra_unexplained": dead_es,
    }
