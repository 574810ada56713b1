"""EsBulkSink against an in-process HTTP ``_bulk`` mock -- the real REST
round trip the sandbox's missing ES cluster otherwise leaves untested
(R22/R23; reference ``cmd/es_consumer/main.go:75-95``).

Covers: index naming + doc-id parity, epoch replay idempotence in both
modes, state-mode compaction + delete, dead-letter routing of malformed
envelopes, bulk chunking, fail-the-batch on HTTP errors, and one true
Structured-Streaming foreachBatch drive."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import types as T

from change_data_capture_service_spark.streaming.envelope import ENVELOPE_SCHEMA
from change_data_capture_service_spark.streaming.es_sink import EsBulkSink
from change_data_capture_service_spark.testing import MockEs

TS = datetime(2024, 1, 1, 0, 0, 0)

# wire-decoded envelopes CAN carry null routing fields (malformed JSON
# decodes to NULLs); the canonical schema marks them non-null for typed
# producers, so tests build rows on the nullable twin.
_NULLABLE_ENVELOPE = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in ENVELOPE_SCHEMA.fields]
)


def _env(spark, rows):
    """rows: (op, table, lsn, key, before, after) on schema 'public'."""
    data = [
        ("public" if t is not None else None, t, op, lsn, key, before, after)
        for (op, t, lsn, key, before, after) in rows
    ]
    return spark.createDataFrame(
        [
            {
                "op": op,
                "schema_name": s,
                "table_name": t,
                "lsn": lsn,
                "ts": TS,
                "key": key,
                "before": before,
                "after": after,
            }
            for (s, t, op, lsn, key, before, after) in data
        ],
        _NULLABLE_ENVELOPE,
    )


@pytest.fixture()
def es():
    with MockEs() as mock:
        yield mock


def test_event_mode_reference_parity_and_replay(spark, es):
    """Doc-per-event with _id=lsn into cdc_<schema>_<table>; a replayed
    epoch rewrites the same docs (byte-identical state); snapshot payloads
    are PRESERVED -- the reference indexes them empty (SURVEY §1.4)."""
    sink = EsBulkSink(es.url, mode="event")
    b0 = _env(
        spark,
        [
            ("snapshot", "users", 1, "public.users:1", None, {"id": "1", "v": "a"}),
            ("insert", "users", 2, "public.users:2", None, {"id": "2", "v": "b"}),
            ("insert", "orders", 3, "public.orders:9", None, {"id": "9"}),
        ],
    )
    sink(b0, epoch_id=0)
    b1 = _env(
        spark,
        [("update", "users", 4, "public.users:2", {"v": "b"}, {"id": "2", "v": "b2"})],
    )
    sink(b1, epoch_id=1)

    state = es.snapshot()
    assert sorted(state) == ["cdc_public_orders", "cdc_public_users"]
    assert sorted(state["cdc_public_users"]) == ["1", "2", "4"]
    snap = state["cdc_public_users"]["1"]
    assert snap["op"] == "snapshot" and snap["data"] == {"id": "1", "v": "a"}
    assert state["cdc_public_users"]["4"]["before"] == {"v": "b"}

    sink(b0, epoch_id=0)  # at-least-once replay
    assert es.snapshot() == state


def test_state_mode_compaction_upsert_delete(spark, es):
    """Doc-per-key: the batch compacts to its max-LSN event per key before
    any action is emitted; deletes remove the doc; replay is idempotent."""
    sink = EsBulkSink(es.url, mode="state")
    b0 = _env(
        spark,
        [
            ("insert", "users", 1, "public.users:1", None, {"id": "1", "v": "a"}),
            ("update", "users", 3, "public.users:1", None, {"id": "1", "v": "a3"}),
            ("insert", "users", 2, "public.users:2", None, {"id": "2", "v": "b"}),
        ],
    )
    sink(b0, epoch_id=0)
    users = es.snapshot()["cdc_public_users"]
    assert sorted(users) == ["public.users:1", "public.users:2"]
    assert users["public.users:1"]["data"]["v"] == "a3"  # compacted to lsn 3

    b1 = _env(
        spark,
        [
            ("delete", "users", 4, "public.users:2", {"id": "2"}, None),
            ("update", "users", 5, "public.users:1", None, {"id": "1", "v": "a5"}),
        ],
    )
    sink(b1, epoch_id=1)
    state = es.snapshot()
    assert sorted(state["cdc_public_users"]) == ["public.users:1"]
    assert state["cdc_public_users"]["public.users:1"]["data"]["v"] == "a5"

    sink(b1, epoch_id=1)  # replay: delete-of-missing is not an error in ES
    assert es.snapshot() == state


def test_malformed_routes_to_dead_letter_deterministically(spark, es):
    """NULL/unsafe routing fields index into <prefix>dead_letter under a
    content-hash id -- observable (unlike the reference's silent skip,
    main.go:66-71) and replay-stable."""
    sink = EsBulkSink(es.url, mode="event")
    batch = _env(
        spark,
        [
            ("insert", "users", 1, "public.users:1", None, {"id": "1"}),
            ("insert", None, 2, "k", None, {"x": "1"}),  # NULL table
            ("insert", "no/slash", 3, "k", None, {"x": "2"}),  # unsafe name
        ],
    )
    sink(batch, epoch_id=0)
    state = es.snapshot()
    assert len(state["cdc_dead_letter"]) == 2
    assert sorted(state["cdc_public_users"]) == ["1"]
    sink(batch, epoch_id=0)
    assert es.snapshot() == state  # same hash ids, no duplicates


def test_bulk_chunking_splits_requests(spark, es):
    sink = EsBulkSink(es.url, mode="event", max_actions=2)
    batch = _env(
        spark,
        [
            ("insert", "users", i, f"public.users:{i}", None, {"id": str(i)})
            for i in range(1, 6)
        ],
    ).coalesce(1)
    sink(batch, epoch_id=0)
    assert es.bulk_requests == 3  # 2 + 2 + 1 actions
    assert len(es.snapshot()["cdc_public_users"]) == 5


def test_http_error_fails_the_batch(spark, es):
    """Non-2xx must raise (so the streaming checkpoint never commits a
    half-applied epoch) -- the reference logs-and-drops instead."""
    sink = EsBulkSink(es.url, mode="event")
    es.fail_next = True
    batch = _env(spark, [("insert", "users", 1, "k", None, {"id": "1"})]).coalesce(1)
    with pytest.raises(Exception, match="_bulk HTTP 500"):
        sink(batch, epoch_id=0)
    # the retry (Spark would replay the epoch) then lands cleanly
    sink(batch, epoch_id=0)
    assert sorted(es.snapshot()["cdc_public_users"]) == ["1"]


def test_streaming_foreachbatch_end_to_end(spark, es, tmp_path):
    """A true Structured-Streaming drive: envelope parquet file source ->
    foreachBatch(EsBulkSink) -> mock cluster state, two micro-batches."""
    src = str(tmp_path / "env_src")
    ckpt = str(tmp_path / "ckpt")
    _env(
        spark, [("insert", "users", 1, "public.users:1", None, {"id": "1", "v": "a"})]
    ).coalesce(1).write.mode("append").parquet(src)

    sink = EsBulkSink(es.url, mode="state")
    q = (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _env(
            spark,
            [
                ("update", "users", 2, "public.users:1", None, {"id": "1", "v": "a2"}),
                ("insert", "users", 3, "public.users:2", None, {"id": "2", "v": "b"}),
            ],
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    users = es.snapshot()["cdc_public_users"]
    assert sorted(users) == ["public.users:1", "public.users:2"]
    assert users["public.users:1"]["data"]["v"] == "a2"


def test_pipeline_change_stream_fans_out_to_es(spark, es, tmp_path):
    """The reference's full topology against the REST sink: snapshot two
    tables through CdcPipeline's changelog, stream a second epoch of
    changes, and drain the SAME change stream into the mock cluster in
    state mode -- snapshot docs land, updates supersede them, deletes
    remove, per-table index routing holds."""
    import json

    from pyspark.sql import functions as F

    from change_data_capture_service_spark.streaming import envelope as env
    from change_data_capture_service_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(
        spark=spark,
        changelog_dir=str(tmp_path / "log"),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    users = spark.createDataFrame([(1, "ada"), (2, "bob")], "id long, v string")
    items = spark.createDataFrame([(10, "hat")], "id long, v string")
    pipe.snapshot(users, "public", "users", pk_cols=["id"])
    pipe.snapshot(items, "public", "items", pk_cols=["id"])

    def envs(table, rows, op, lsn0):
        df = spark.createDataFrame(rows, "id long, v string")
        return env.encode(
            df, op=op, schema_name="public", table_name=table, pk_cols=["id"],
            lsn=F.col("id") + lsn0,
            ts=F.lit("2024-04-01 00:00:00").cast("timestamp"),
        )

    envs("users", [(1, "ada2")], "update", 100).write.mode("append").json(
        pipe.changelog_dir
    )
    envs("users", [(2, "bob")], "delete", 200).write.mode("append").json(
        pipe.changelog_dir
    )

    sink = EsBulkSink(es.url, mode="state")
    q = (
        pipe.change_stream()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "es_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = es.snapshot()
    assert sorted(k for k in state if state[k]) == ["cdc_public_items", "cdc_public_users"]
    users_idx = state["cdc_public_users"]
    # user 1: update (lsn 101) supersedes the snapshot doc; user 2: deleted
    assert sorted(users_idx) == ["public.users:1"]
    assert json.loads(json.dumps(users_idx["public.users:1"]))["data"]["v"] == "ada2"
    assert sorted(state["cdc_public_items"]) == ["public.items:10"]


def test_concurrent_partition_posts_are_thread_safe(spark, es):
    """The sink's scale posture is N executors posting in parallel; the
    mock is ThreadingHTTPServer + a lock. 200 docs across 8 partitions
    with 10-action chunks must land exactly once each."""
    sink = EsBulkSink(es.url, mode="event", max_actions=10)
    batch = _env(
        spark,
        [
            ("insert", "users", i, f"public.users:{i}", None, {"id": str(i)})
            for i in range(1, 201)
        ],
    ).repartition(8)
    sink(batch, epoch_id=0)
    assert len(es.snapshot()["cdc_public_users"]) == 200
    assert es.bulk_requests >= 20  # ceil(200/10), more if partitions uneven


def test_hostile_payload_values_cannot_break_ndjson_framing(spark, es):
    """NDJSON framing holds because to_json escapes control characters:
    payload values carrying raw newlines, quotes, and backslashes must
    arrive intact as ONE action, not split the bulk body."""
    sink = EsBulkSink(es.url, mode="event")
    nasty = 'line1\nline2\t"quoted" \\backslash {"fake":"json"}'
    batch = _env(
        spark,
        [("insert", "users", 1, "public.users:1", None, {"v": nasty})],
    )
    sink(batch, epoch_id=0)
    users = es.snapshot()["cdc_public_users"]
    assert sorted(users) == ["1"]
    assert users["1"]["data"]["v"] == nasty


def test_truncate_fences_the_batch_and_lands_in_control(spark, es):
    """TRUNCATE through the REST sink (the parquet sink's fence semantics,
    bulk-expressible half): events of the truncated table at or below the
    fence LSN never index, later events do, the fence itself lands in
    <prefix>control keyed by LSN (replay-idempotent), and OTHER tables are
    untouched. Cross-epoch clearing needs indices.delete out-of-band --
    the control doc is what makes that visible."""
    sink = EsBulkSink(es.url, mode="state")
    batch = _env(
        spark,
        [
            ("insert", "users", 1, "public.users:1", None, {"id": "1", "v": "old"}),
            ("insert", "items", 2, "public.items:9", None, {"id": "9"}),
            ("truncate", "users", 5, None, None, None),
            ("insert", "users", 6, "public.users:2", None, {"id": "2", "v": "new"}),
        ],
    )
    sink(batch, epoch_id=0)
    state = es.snapshot()
    # users:1 (lsn 1 <= fence 5) suppressed; users:2 (lsn 6) survives
    assert sorted(state["cdc_public_users"]) == ["public.users:2"]
    assert sorted(state["cdc_public_items"]) == ["public.items:9"]
    assert sorted(state["cdc_control"]) == ["5"]
    assert state["cdc_control"]["5"]["op"] == "truncate"
    sink(batch, epoch_id=0)  # replay
    assert es.snapshot() == state


def test_empty_batch_posts_nothing(spark, es):
    """Structured Streaming delivers empty micro-batches routinely; the
    sink must not send empty bulk bodies (ES rejects a bodyless _bulk)."""
    sink = EsBulkSink(es.url, mode="state")
    sink(_env(spark, []), epoch_id=0)
    assert es.bulk_requests == 0
    assert es.snapshot() == {}


def test_partial_batch_failure_then_replay_is_exactly_once(spark, es):
    """The at-least-once contract end to end: a multi-chunk batch fails
    MIDWAY (first chunk applied, second rejected), the batch raises, and
    the full replay -- what Spark does after a failed epoch -- converges
    to exactly-once state because doc IDs are deterministic."""
    sink = EsBulkSink(es.url, mode="event", max_actions=2)
    batch = _env(
        spark,
        [
            ("insert", "users", i, f"public.users:{i}", None, {"id": str(i)})
            for i in range(1, 7)
        ],
    ).coalesce(1)  # 3 chunks of 2
    es.fail_after = 1  # chunk 1 lands, chunk 2 gets HTTP 500
    with pytest.raises(Exception, match="_bulk HTTP 500"):
        sink(batch, epoch_id=0)
    partial = es.snapshot()["cdc_public_users"]
    assert 0 < len(partial) < 6  # genuinely half-applied

    sink(batch, epoch_id=0)  # Spark's epoch replay
    users = es.snapshot()["cdc_public_users"]
    assert sorted(users, key=int) == [str(i) for i in range(1, 7)]


def test_duplicate_lsn_tiebreak_upsert_outranks_delete(spark, es):
    """LSN ties cannot happen on a real WAL, but a malformed producer must
    still replay deterministically: on an equal-LSN collision the UPSERT
    wins over the delete (explicit op-priority rank -- alphabetical op
    ordering would invert the documented policy)."""
    sink = EsBulkSink(es.url, mode="state")
    batch = _env(
        spark,
        [
            ("delete", "users", 5, "public.users:1", {"id": "1"}, None),
            ("update", "users", 5, "public.users:1", {"id": "1"}, {"id": "1", "v": "x"}),
        ],
    )
    sink(batch, epoch_id=0)
    users = es.snapshot().get("cdc_public_users", {})
    assert "public.users:1" in users, "delete won the LSN tie; policy says upsert wins"
    assert users["public.users:1"]["data"] == {"id": "1", "v": "x"}

    state = es.snapshot()
    sink(batch, epoch_id=0)  # replay stays byte-stable
    assert es.snapshot() == state


def test_streaming_restart_replays_failed_epoch(spark, es, tmp_path):
    """The crash-recovery contract the wire e2e (scripts/es_wire_e2e.py)
    exercises, pinned in CI: an induced HTTP 500 kills the streaming
    query MID-EPOCH (the checkpoint never commits it); a restart from the
    same checkpoint replays that epoch over the wire -- deterministic doc
    IDs make the rewrite idempotent -- and the final endpoint state equals
    the max-LSN latest state per key as if no crash had happened."""
    import time

    src = str(tmp_path / "env_src")
    ckpt = str(tmp_path / "ckpt")
    sink = EsBulkSink(es.url, mode="state")

    def start():
        return (
            spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _env(
        spark, [("insert", "users", 1, "public.users:1", None, {"id": "1", "v": "a"})]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start()
    q.processAllAvailable()
    q.stop()
    reqs_before = es.bulk_requests

    # second epoch arrives; the next _bulk answers 500 -> batch fails ->
    # query dies with the epoch uncommitted
    _env(
        spark,
        [
            ("update", "users", 2, "public.users:1", None, {"id": "1", "v": "a2"}),
            ("insert", "users", 3, "public.users:2", None, {"id": "2", "v": "b"}),
        ],
    ).coalesce(1).write.mode("append").parquet(src)
    es.fail_next = True
    q = start()
    deadline = time.time() + 60
    while q.exception() is None and time.time() < deadline:
        time.sleep(0.2)
    assert q.exception() is not None, "500 reply must kill the query"
    # the failed epoch must not have applied: key 2 is absent, key 1 stale
    users_mid = es.snapshot()["cdc_public_users"]
    assert sorted(users_mid) == ["public.users:1"]
    assert users_mid["public.users:1"]["data"]["v"] == "a"

    # restart from the same checkpoint: the epoch replays and applies
    q = start()
    q.processAllAvailable()
    q.stop()
    users = es.snapshot()["cdc_public_users"]
    assert sorted(users) == ["public.users:1", "public.users:2"]
    assert users["public.users:1"]["data"]["v"] == "a2"
    assert es.bulk_requests > reqs_before + 1  # the retry went over the wire


def test_state_mode_mixed_batch_posts_one_request(spark, es):
    """One state-mode plan for every row: upserts, a delete, an equal-LSN
    delete/update tie, a one-table TRUNCATE fence and two dead letters,
    spread over 4 partitions, land as the expected docs per index, replay
    byte-identically, and leave the sink's single key exchange as one
    coalesced posting task -- one _bulk request for the whole batch."""
    sink = EsBulkSink(es.url, mode="state")
    batch = _env(
        spark,
        [
            ("insert", "users", 1, "public.users:1", None, {"id": "1", "v": "a"}),
            ("update", "users", 4, "public.users:1", None, {"id": "1", "v": "a4"}),
            ("insert", "users", 2, "public.users:2", None, {"id": "2", "v": "b"}),
            ("delete", "users", 6, "public.users:2", {"id": "2"}, None),
            ("delete", "users", 7, "public.users:3", {"id": "3"}, None),
            ("update", "users", 7, "public.users:3", None, {"id": "3", "v": "c7"}),
            ("insert", "items", 3, "public.items:9", None, {"id": "9"}),
            ("insert", "items", 5, "public.items:8", None, {"id": "8"}),
            ("truncate", "items", 4, None, None, None),
            ("insert", "users", 8, None, None, {"id": "x"}),  # NULL key
            ("insert", "no-dash", 9, "k", None, {"id": "y"}),  # unsafe name
        ],
    ).repartition(4)
    sink(batch, epoch_id=0)
    state = es.snapshot()
    assert sorted(state) == ["cdc_control", "cdc_dead_letter", "cdc_public_items", "cdc_public_users"]
    users = state["cdc_public_users"]
    assert sorted(users) == ["public.users:1", "public.users:3"]  # users:2 deleted
    assert users["public.users:1"]["data"]["v"] == "a4"
    assert users["public.users:3"]["data"]["v"] == "c7"  # upsert wins the lsn tie
    assert sorted(state["cdc_public_items"]) == ["public.items:8"]  # items:9 fenced
    assert sorted(state["cdc_control"]) == ["4"]
    assert len(state["cdc_dead_letter"]) == 2
    assert es.bulk_requests == 1

    sink(batch, epoch_id=0)  # replay
    assert es.snapshot() == state
    assert es.bulk_requests == 2
