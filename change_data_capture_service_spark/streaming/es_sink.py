"""Elasticsearch REST ``_bulk`` sink for CDC envelopes (reference R22/R23,
``cmd/es_consumer/main.go:75-95``).

The reference indexes ONE document PER EVENT over HTTP: index name
``cdc_<schema>_<table>``, doc-id = LSN, ``refresh=true`` on every single
call (the throughput worst case -- every event forces a segment refresh),
body = the event's ``data`` map only, so its own snapshot events (whose
payload rides a different JSON shape, ``replicator.go:138-145``) index as
EMPTY documents. This module is the engine's wire-real analogue:

- ``EsBulkSink`` is a ``foreachBatch`` callable that POSTs the batch to an
  ES-compatible ``/_bulk`` endpoint as NDJSON. The request bodies are
  assembled JVM-side (``to_json`` over the envelope struct -- no Python
  per-row serialization) and cross to the posting Python workers as
  Arrow batches (``mapInArrow``; the pre-r14 ``foreachPartition`` form
  paid the pickled-Row path per action line): EVERY EXECUTOR POSTS ITS
  OWN PARTITIONS in parallel, chunked at ``max_actions`` actions per
  request. Nothing is collected to the driver; at 1000 executors the
  sink is 1000 concurrent bulk writers, which is exactly how the ES
  ecosystem's own Spark connector behaves.
- Idempotence (the reference got this right): deterministic doc IDs.
  ``mode="event"`` keeps doc-per-event with ``_id = lsn`` -- an
  at-least-once replay overwrites the same documents. ``mode="state"``
  keeps doc-per-KEY (``_id = key``): every row of the batch is tagged
  once as data, dead letter or control and given its index, id, action
  and doc, then the batch keeps its max-LSN row per ``(_index, _id)``
  through ONE key exchange; inserts/updates/snapshots become ``index``
  actions with the ``after`` payload and deletes become ``delete``
  actions -- the keyed upsert view the reference never implemented
  (R14/R15 stubs). Because every row passes that exchange, AQE coalesces
  a small epoch's posting stage to a single task and ``_bulk`` request;
  a large epoch still posts from many partitions.
- Failure semantics: a non-2xx response or a bulk reply with
  ``"errors": true`` raises, failing the task -> the batch -> the query,
  so the streaming checkpoint never commits a half-applied epoch and the
  replay rewrites the same doc IDs. The reference logs and DROPS failed
  events (``main.go:96-99``) -- silent data loss this sink refuses.
- Malformed envelopes (NULL/unsafe schema/table, NULL op or routing key)
  are indexed into ``<prefix>dead_letter`` with a content-hash doc id
  (deterministic, so replays stay idempotent) instead of being skipped
  like the reference's unmarshal-failure path (``main.go:66-71``) -- the
  observable version of skip-malformed, same contract as
  ``TableRoutingSink``'s ok=false partition.
- TRUNCATE control events (NULL key by design) apply their fence within
  the batch in state mode (a broadcast left-anti join on the batch's
  truncate rows: events of the truncated table at or below the fence LSN
  never index) and the fence itself lands in ``<prefix>control`` keyed
  by LSN; ``_bulk`` cannot express delete-by-query, so clearing docs
  from EARLIER epochs is an out-of-band ``indices.delete`` the control
  doc makes visible. A TRUNCATE message naming several tables gives
  each table's row the same LSN, so they collide on one control doc id
  and only one of them is kept (a known gap).
- ``refresh`` defaults to FALSE: per-request refresh is the reference's
  single biggest throughput bug; opt back in only for tests that read
  their own writes immediately.

There is no live Elasticsearch in this sandbox: tests drive the sink
against an in-process stdlib ``http.server`` mock that implements the
``_bulk`` contract (``change_data_capture_service_spark/testing/es_mock.py``), which exercises the full
HTTP/NDJSON/response-parsing path end-to-end.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# mirror of sink.TableRoutingSink's routing-name rule: identifiers become
# index-name components, so anything outside this set dead-letters.
_SAFE_NAME = r"^[A-Za-z0-9_]+$"

_MODES = ("event", "state")


def _post_bulk(url: str, lines: list[str], timeout: float) -> None:
    """POST one ``_bulk`` NDJSON request and raise on transport errors,
    non-2xx, or any per-action error in the reply. Runs on executors."""
    body = ("\n".join(lines) + "\n").encode("utf-8")
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/x-ndjson"}, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            reply = json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:  # non-2xx
        raise RuntimeError(f"_bulk HTTP {e.code}: {e.read()[:200]!r}") from e
    if reply.get("errors"):
        failed = [
            it
            for it in reply.get("items", [])
            for act in it.values()
            if int(act.get("status", 200)) >= 300
        ]
        raise RuntimeError(f"_bulk reported {len(failed)} failed actions: {failed[:3]}")


class EsBulkSink:
    """``foreachBatch`` callable: POST envelope micro-batches to an
    ES-compatible ``/_bulk`` endpoint with deterministic doc IDs.

    Parameters
    ----------
    base_url:       ``http(s)://host:port`` of the cluster (no trailing path).
    index_prefix:   reference default ``cdc_`` (``main.go:30-34``).
    mode:           ``"event"`` = doc-per-event, ``_id = lsn`` (reference
                    parity); ``"state"`` = doc-per-key upsert/delete of the
                    batch's max-LSN event per key.
    max_actions:    bulk-request chunk size per partition.
    refresh:        append ``?refresh=true`` (reference behavior; off by
                    default -- it is the reference's throughput bug).
    timeout:        per-request socket timeout, seconds.
    """

    def __init__(
        self,
        base_url: str,
        *,
        index_prefix: str = "cdc_",
        mode: str = "event",
        max_actions: int = 500,
        refresh: bool = False,
        timeout: float = 10.0,
    ):
        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
        if max_actions < 1:
            raise ValueError("max_actions must be >= 1")
        self.bulk_url = base_url.rstrip("/") + "/_bulk" + ("?refresh=true" if refresh else "")
        self.index_prefix = index_prefix
        self.mode = mode
        self.max_actions = max_actions
        self.timeout = timeout

    # ---------------------------------------------------------- plan side

    def _bulk_lines(self, batch_df: DataFrame) -> DataFrame:
        """One ``lines`` string column per action: ``action-json\\ndoc-json``
        (or action alone for deletes), built entirely JVM-side."""
        malformed = (
            F.col("op").isNull()
            | F.col("schema_name").isNull()
            | F.col("table_name").isNull()
            | F.col("lsn").isNull()
            | ~F.col("schema_name").rlike(_SAFE_NAME)
            | ~F.col("table_name").rlike(_SAFE_NAME)
            | (
                F.lit(self.mode == "state")
                & F.col("key").isNull()
                # truncate is a CONTROL event: NULL key is its legitimate
                # shape, never malformed
                & (F.col("op") != "truncate")
            )
        )
        doc_body = F.to_json(
            F.struct(
                F.col("op"),
                F.col("schema_name"),
                F.col("table_name"),
                F.col("lsn"),
                F.col("ts"),
                F.col("key"),
                F.col("before"),
                F.col("after").alias("data"),
            )
        )
        dead_index = F.lit(self.index_prefix + "dead_letter")
        # content-hash id: a replayed malformed row rewrites the same doc
        dead_id = F.sha2(doc_body, 256)
        index_name = F.concat(
            F.lit(self.index_prefix), F.col("schema_name"), F.lit("_"), F.col("table_name")
        )

        if self.mode == "event":
            doc_id = F.col("lsn").cast("string")
            routed = batch_df.select(
                F.when(malformed, dead_index).otherwise(index_name).alias("_index"),
                F.when(malformed, dead_id).otherwise(doc_id).alias("_id"),
                F.lit("index").alias("action"),
                doc_body.alias("doc"),
            )
        else:
            # state mode: ONE plan for every row. Each row is tagged once as
            # malformed (dead letter), control (TRUNCATE) or data and gets
            # its _index, _id, action and doc; the batch then keeps one row
            # per (_index, _id) through a single key exchange. Dead letters
            # (content-hash id) and control rows (id = lsn) pass through
            # that exchange like data rows, so no branch is unioned in after
            # it and AQE can coalesce a small epoch's posting stage to one
            # task -- one _bulk request.
            is_control = F.col("op") == "truncate"
            is_delete = F.col("op") == "delete"
            kind = F.col("_kind")
            state_doc = F.to_json(
                F.struct(F.col("lsn"), F.col("ts"), F.col("key"), F.col("after").alias("data"))
            )
            tagged = batch_df.withColumn(
                "_kind",
                F.when(malformed, F.lit("dead"))
                .when(is_control, F.lit("control"))
                .otherwise(F.lit("data")),
            ).select(
                "schema_name",
                "table_name",
                "lsn",
                "ts",
                "op",
                "_kind",
                F.when(kind == "dead", dead_index)
                .when(kind == "control", F.lit(self.index_prefix + "control"))
                .otherwise(index_name)
                .alias("_index"),
                F.when(kind == "dead", dead_id)
                .when(kind == "control", F.col("lsn").cast("string"))
                .otherwise(F.col("key"))
                .alias("_id"),
                F.when((kind == "data") & is_delete, F.lit("delete"))
                .otherwise(F.lit("index"))
                .alias("action"),
                F.when(kind != "data", doc_body)
                .when(is_delete, F.lit(None).cast("string"))
                .otherwise(state_doc)
                .alias("doc"),
            )
            # TRUNCATE fence (same semantics as the parquet sink's
            # compaction, sink.py): a data row of a table truncated in this
            # batch at or below the fence LSN is superseded and must not be
            # indexed. A broadcast left-anti join on the batch's raw
            # truncate rows drops it -- no aggregate, no second exchange.
            # _bulk has no delete-by-query, so the cross-epoch half (docs
            # indexed in EARLIER epochs) cannot be applied here: the control
            # row lands in <prefix>control (id = lsn, replay-idempotent) so
            # operators see it and run the out-of-band indices.delete --
            # observable, never silent.
            fences = batch_df.filter(is_control).select(
                F.col("schema_name").alias("_fence_schema"),
                F.col("table_name").alias("_fence_table"),
                F.col("lsn").alias("_fence_lsn"),
            )
            live = tagged.join(
                F.broadcast(fences),
                (kind == "data")
                & (F.col("schema_name") == F.col("_fence_schema"))
                & (F.col("table_name") == F.col("_fence_table"))
                & (F.col("lsn") <= F.col("_fence_lsn")),
                "left_anti",
            )
            # lsn ties cannot happen on a real WAL (LSNs are unique), but a
            # deterministic tiebreak keeps replays byte-stable even on
            # malformed producers: deletes lose to concurrent upserts
            # (explicit priority -- alphabetical op order would invert it).
            op_rank = F.when(is_delete, F.lit(1)).otherwise(F.lit(0))
            latest = Window.partitionBy("_index", "_id").orderBy(
                F.col("lsn").desc(), op_rank.asc(), F.col("ts").desc(), F.col("op")
            )
            routed = (
                live.withColumn("_rn", F.row_number().over(latest))
                .filter(F.col("_rn") == 1)
                .select("_index", "_id", "action", "doc")
            )

        # to_json cannot emit a dynamic top-level field name, so build the
        # two known action shapes and branch (both are JSON-escaped by
        # to_json -- no hand-assembled JSON anywhere near user data).
        meta = F.struct(F.col("_index"), F.col("_id"))
        action_json = F.when(
            F.col("action") == "delete", F.to_json(F.struct(meta.alias("delete")))
        ).otherwise(F.to_json(F.struct(meta.alias("index"))))
        return (
            routed.withColumn("action_json", action_json)
            .select(
                F.when(
                    F.col("doc").isNull(), F.col("action_json")
                )  # delete: action line only
                .otherwise(F.concat("action_json", F.lit("\n"), "doc"))
                .alias("lines")
            )
        )

    # ------------------------------------------------------- execute side

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        url, max_actions, timeout = self.bulk_url, self.max_actions, self.timeout

        # the NDJSON lines cross to the posting Python workers as ARROW
        # BATCHES (mapInArrow), not pickled Rows -- the former
        # foreachPartition shape deserialized every action line
        # one-Row-at-a-time through the pickle path (guide §4: control how
        # efficiently columns cross the boundary; r14 bench: 100k-action
        # epoch 2.52s -> this form is the same requests, same per-partition
        # chunking, minus the per-row overhead). One tiny ack batch per
        # partition keeps the job an action without a driver collect.
        def send_batches(batches):
            import pyarrow as pa

            buf: list[str] = []
            n = 0  # actions in the CURRENT chunk (reset per flush)
            total = 0  # actions posted by this partition (the ack value)
            for b in batches:
                for line in b.column(0).to_pylist():
                    buf.append(line)
                    n += 1
                    total += 1
                    if n >= max_actions:
                        _post_bulk(url, buf, timeout)
                        buf, n = [], 0
            if buf:
                _post_bulk(url, buf, timeout)
            yield pa.RecordBatch.from_pydict({"sent": pa.array([total], pa.int64())})

        (
            self._bulk_lines(batch_df)
            .mapInArrow(send_batches, "sent long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
