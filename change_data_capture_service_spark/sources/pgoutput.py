"""Binary pgoutput logical-replication decode: the one reference behavior
that previously had no engine equivalent.

The reference consumes a Postgres logical replication slot and decodes raw
WAL frames with pglogrepl -- the outer CopyData dispatch on ``'k'``
(keepalive) / ``'w'`` (XLogData) at ``internal/wal/replicator.go:291-302``,
the relation-OID registry consulted per DML message at
``replicator.go:320-336``, and the per-column tuple tag-byte dispatch
``'n'`` (NULL) / ``'u'`` (unchanged TOAST) / ``'t'`` (text) / default
(binary) at ``replicator.go:346-355``.

This module re-implements that decode layer from the PUBLIC wire format
(PostgreSQL docs: "Protocol > Logical Streaming Replication > Message
Formats", protocol version 1) as pure functions over ``bytes``, then lifts
them onto Spark with a two-pass plan that is correct under partitioning:

1. **Relation pass** -- Relation ('R') messages are rare (one per table per
   connection, re-sent only on schema change). A cheap filtered scan
   collects them into a driver-side registry (dozens of rows, never data-
   scaled) which broadcasts to pass 2. This replaces the reference's
   implicit ordering assumption (relation seen before DML on the same
   connection) with an explicit join-shaped dependency that survives
   arbitrary partitioning of the frame log.
2. **DML pass** -- ``mapInPandas`` over the binary frames decodes
   Insert/Update/Delete/Truncate against the broadcast registry and emits
   rows in the engine's canonical envelope schema (op, schema_name,
   table_name, lsn, ts, key, before, after), ready for
   ``streaming/pipeline.py``'s routed sink. Frames whose relation OID has
   no registry entry degrade to dead-letter rows (op='unknown') instead of
   being dropped -- the engine's dead-letter discipline, where the
   reference logs-and-skips (``replicator.go:335``).

Scale: pass 1 touches only 'R'-tagged frames (predicate on the first byte
pushes to the scan). Over a distributed frame log that is one filtered
scan job; over a drained batch from ``walsender.frames_to_df`` the log is
a driver-local relation, so the filters and the collect fold on the driver
and pass 1 runs no Spark job at all. Pass 2 is embarrassingly parallel --
each frame decodes independently given the broadcast registry, no shuffle.
Tuple values keep the reference's string-degraded representation
(``'u'`` -> the literal ``(unchanged)`` placeholder, ``replicator.go:350``;
binary -> hex, where the reference keeps raw bytes).
"""

from __future__ import annotations

import datetime as _dt
import struct
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capture_service_spark.streaming.envelope import key_of_parts

# Postgres timestamps in replication messages are microseconds since
# 2000-01-01 00:00:00 UTC (the "Postgres epoch").
PG_EPOCH = _dt.datetime(2000, 1, 1, tzinfo=_dt.timezone.utc)

# Placeholder the reference substitutes for unchanged TOASTed values
# (replicator.go:350).
UNCHANGED_TOAST = "(unchanged)"


# ---------------------------------------------------------------------------
# Pure byte-level parsers (no Spark). Formats per PostgreSQL protocol docs.
# ---------------------------------------------------------------------------


class PgOutputError(ValueError):
    """Malformed pgoutput frame."""


def _read_cstring(b: bytes, off: int) -> tuple[str, int]:
    end = b.index(b"\x00", off)
    return b[off:end].decode("utf-8"), end + 1


@dataclass(frozen=True)
class RelationColumn:
    name: str
    type_oid: int
    type_mod: int
    is_key: bool


@dataclass(frozen=True)
class Relation:
    relation_id: int
    namespace: str
    name: str
    replica_identity: str  # 'd' default, 'n' nothing, 'f' full, 'i' index
    columns: tuple[RelationColumn, ...]

    @property
    def key_columns(self) -> tuple[str, ...]:
        keys = tuple(c.name for c in self.columns if c.is_key)
        # reference fallback: first column acts as the key when the
        # replica identity marks none (replicator.go:341-343)
        return keys if keys else (self.columns[0].name,) if self.columns else ()


def parse_keepalive(b: bytes) -> dict:
    """Primary keepalive ('k' CopyData): wal_end, server clock, reply flag."""
    if len(b) < 18 or b[0:1] != b"k":
        raise PgOutputError(f"not a keepalive frame: {b[:1]!r}")
    wal_end, clock_us, reply = struct.unpack_from(">QQB", b, 1)
    return {
        "wal_end": wal_end,
        "server_ts": PG_EPOCH + _dt.timedelta(microseconds=clock_us),
        "reply_requested": bool(reply),
    }


def parse_xlogdata(b: bytes) -> tuple[int, int, _dt.datetime, bytes]:
    """XLogData ('w' CopyData): (wal_start, wal_end, server_ts, inner)."""
    if len(b) < 25 or b[0:1] != b"w":
        raise PgOutputError(f"not an XLogData frame: {b[:1]!r}")
    wal_start, wal_end, clock_us = struct.unpack_from(">QQQ", b, 1)
    ts = PG_EPOCH + _dt.timedelta(microseconds=clock_us)
    return wal_start, wal_end, ts, b[25:]


def _parse_tuple_data(b: bytes, off: int) -> tuple[list[str | None], int]:
    """TupleData: Int16 ncols then per-column tag-byte dispatch -- the
    reference's switch at replicator.go:346-355."""
    (ncols,) = struct.unpack_from(">h", b, off)
    off += 2
    out: list[str | None] = []
    for _ in range(ncols):
        tag = b[off : off + 1]
        off += 1
        if tag == b"n":  # NULL
            out.append(None)
        elif tag == b"u":  # unchanged TOAST
            out.append(UNCHANGED_TOAST)
        elif tag == b"t":  # text-format value
            (ln,) = struct.unpack_from(">i", b, off)
            off += 4
            out.append(b[off : off + ln].decode("utf-8"))
            off += ln
        elif tag == b"b":  # binary-format value (reference: keep raw bytes)
            (ln,) = struct.unpack_from(">i", b, off)
            off += 4
            out.append(b[off : off + ln].hex())
            off += ln
        else:
            raise PgOutputError(f"unknown tuple column tag {tag!r}")
    return out, off


def parse_relation(b: bytes) -> Relation:
    """Relation ('R') message: OID, namespace, name, identity, columns."""
    if b[0:1] != b"R":
        raise PgOutputError(f"not a Relation message: {b[:1]!r}")
    (rel_id,) = struct.unpack_from(">i", b, 1)
    off = 5
    ns, off = _read_cstring(b, off)
    name, off = _read_cstring(b, off)
    ident = b[off : off + 1].decode("ascii")
    off += 1
    (ncols,) = struct.unpack_from(">h", b, off)
    off += 2
    cols = []
    for _ in range(ncols):
        flags = b[off]
        off += 1
        cname, off = _read_cstring(b, off)
        type_oid, type_mod = struct.unpack_from(">ii", b, off)
        off += 8
        cols.append(RelationColumn(cname, type_oid, type_mod, bool(flags & 1)))
    # pgoutput sends the empty namespace for pg_catalog
    return Relation(rel_id, ns or "pg_catalog", name, ident, tuple(cols))


def parse_begin(b: bytes) -> dict:
    if b[0:1] != b"B":
        raise PgOutputError(f"not a Begin message: {b[:1]!r}")
    final_lsn, commit_us, xid = struct.unpack_from(">QQi", b, 1)
    return {
        "kind": "begin",
        "final_lsn": final_lsn,
        "commit_ts": PG_EPOCH + _dt.timedelta(microseconds=commit_us),
        "xid": xid,
    }


def parse_commit(b: bytes) -> dict:
    if b[0:1] != b"C":
        raise PgOutputError(f"not a Commit message: {b[:1]!r}")
    flags, commit_lsn, end_lsn, commit_us = struct.unpack_from(">BQQQ", b, 1)
    return {
        "kind": "commit",
        "flags": flags,
        "commit_lsn": commit_lsn,
        "end_lsn": end_lsn,
        "commit_ts": PG_EPOCH + _dt.timedelta(microseconds=commit_us),
    }


def parse_dml(b: bytes, relations: dict[int, Relation]) -> dict:
    """Insert ('I') / Update ('U') / Delete ('D') / Truncate ('T') -> a
    dict shaped like the engine envelope (op/schema/table/key/before/after).

    An unknown relation OID yields op='unknown' with the OID recorded --
    dead-letter material, not an exception (the reference logs-and-skips at
    replicator.go:335; the engine keeps the row so nothing is silently
    lost)."""
    tag = b[0:1]
    if tag == b"T":
        nrels, options = struct.unpack_from(">iB", b, 1)
        oids = struct.unpack_from(f">{nrels}i", b, 6)
        return {"kind": "truncate", "options": options, "relation_ids": list(oids)}
    if tag not in (b"I", b"U", b"D"):
        raise PgOutputError(f"not a DML message: {tag!r}")
    (rel_id,) = struct.unpack_from(">i", b, 1)
    off = 5
    rel = relations.get(rel_id)
    if rel is None:
        return {"kind": "unknown", "relation_id": rel_id}
    before: list[str | None] | None = None
    after: list[str | None] | None = None
    before_marker: bytes | None = None  # b"K" (old key) or b"O" (old full tuple)
    if tag == b"I":
        if b[off : off + 1] != b"N":
            raise PgOutputError("Insert message without new tuple")
        after, off = _parse_tuple_data(b, off + 1)
        kind = "insert"
    elif tag == b"U":
        marker = b[off : off + 1]
        if marker in (b"K", b"O"):  # old key / old full tuple present
            before_marker = marker
            before, off = _parse_tuple_data(b, off + 1)
            marker = b[off : off + 1]
        if marker != b"N":
            raise PgOutputError("Update message without new tuple")
        after, off = _parse_tuple_data(b, off + 1)
        kind = "update"
    else:  # Delete
        marker = b[off : off + 1]
        if marker not in (b"K", b"O"):
            raise PgOutputError("Delete message without old tuple")
        before_marker = marker
        before, off = _parse_tuple_data(b, off + 1)
        kind = "delete"

    # Arity guard -- the DESTRUCTIVE half of schema evolution. A dropped
    # column (ALTER TABLE DROP) shrinks both the re-announced Relation and
    # every later tuple, so counts agree when regime resolution is right.
    # If they DISAGREE, the registry is desynced from the wire (exactly
    # the reference's silent-recache hazard, replicator.go:320-336, where
    # zip-by-position mis-labels every cell): dead-letter with a reason
    # instead of guessing. Exception: a Delete/Update old-KEY tuple ('K')
    # legitimately carries only replica-identity columns padded with
    # nulls OR just the key cells on some server versions -- a SHORT
    # 'K' before-tuple zips against the leading columns the server sent
    # it for, which pgoutput defines positionally. An old-FULL tuple
    # ('O' -- REPLICA IDENTITY FULL) must match the relation arity
    # exactly, same as the after-tuple: a short 'O' is a registry desync
    # and dead-letters rather than being silently mis-keyed.
    if after is not None and len(after) != len(rel.columns):
        return {
            "kind": "arity_mismatch",
            "relation": rel,
            "ncells": len(after),
            "ncols": len(rel.columns),
        }
    if before is not None and (
        len(before) > len(rel.columns)
        or (before_marker == b"O" and len(before) != len(rel.columns))
    ):
        return {
            "kind": "arity_mismatch",
            "relation": rel,
            "ncells": len(before),
            "ncols": len(rel.columns),
        }

    def as_map(vals: list[str | None] | None) -> dict[str, str | None] | None:
        if vals is None:
            return None
        return {c.name: v for c, v in zip(rel.columns, vals)}

    return {
        "kind": kind,
        "relation": rel,
        "before": as_map(before),
        "after": as_map(after),
    }


def _key_of(rel: Relation, payload: dict[str, str | None] | None) -> str:
    """Reference key shape ``schema.table:pkval`` with a ``no_pk_val``
    fallback (replicator.go:375-380), by the same rule as the snapshot
    path's ``envelope.cdc_key``."""
    parts = [payload.get(k) for k in rel.key_columns] if payload is not None else []
    return key_of_parts(rel.namespace, rel.name, parts)


def decode_frame(frame: bytes, relations: dict[int, Relation]) -> list[dict]:
    """Decode ONE outer CopyData frame to zero-or-more envelope dicts.

    Keepalives and Begin/Commit/Relation/Origin/Type messages produce no
    envelope rows (Begin/Commit atomicity is the sink's job, batch-atomic
    foreachBatch -- streaming/sink.py); Insert/Update/Delete/Truncate
    produce one row each; unknown-OID DML produces an op='unknown'
    dead-letter row."""
    first = frame[0:1]
    if first == b"k":
        parse_keepalive(frame)  # validates; keepalives carry no events
        return []
    if first != b"w":
        raise PgOutputError(f"unknown CopyData tag {first!r}")
    wal_start, _wal_end, ts, inner = parse_xlogdata(frame)
    tag = inner[0:1]
    if tag in (b"B", b"C", b"R", b"O", b"Y", b"M"):
        return []
    msg = parse_dml(inner, relations)
    if msg["kind"] == "truncate":
        rows = []
        for oid in msg["relation_ids"]:
            rel = relations.get(oid)
            rows.append(
                {
                    "op": "truncate",
                    "schema_name": rel.namespace if rel else "unknown",
                    "table_name": rel.name if rel else f"oid_{oid}",
                    "lsn": wal_start,
                    "ts": ts,
                    "key": None,
                    "before": None,
                    "after": None,
                }
            )
        return rows
    if msg["kind"] == "unknown":
        return [
            {
                "op": "unknown",
                "schema_name": "unknown",
                "table_name": f"oid_{msg['relation_id']}",
                "lsn": wal_start,
                "ts": ts,
                "key": None,
                "before": None,
                "after": {
                    "_dead_letter_reason": (
                        f"no_relation_announced_for_oid_{msg['relation_id']}"
                    )
                },
            }
        ]
    if msg["kind"] == "arity_mismatch":
        mrel: Relation = msg["relation"]
        return [
            {
                "op": "unknown",
                "schema_name": mrel.namespace,
                "table_name": mrel.name,
                "lsn": wal_start,
                "ts": ts,
                "key": None,
                "before": None,
                "after": {
                    "_dead_letter_reason": (
                        "arity_mismatch: tuple has "
                        f"{msg['ncells']} cells, relation "
                        f"{mrel.relation_id} has {msg['ncols']} columns "
                        "(registry desync -- refusing to mis-zip)"
                    )
                },
            }
        ]
    rel: Relation = msg["relation"]
    key_payload = msg["after"] if msg["kind"] != "delete" else msg["before"]
    return [
        {
            "op": msg["kind"],
            "schema_name": rel.namespace,
            "table_name": rel.name,
            "lsn": wal_start,
            "ts": ts,
            "key": _key_of(rel, key_payload),
            "before": msg["before"],
            "after": msg["after"],
        }
    ]


# ---------------------------------------------------------------------------
# Spark integration: two-pass decode over a binary frame log.
# ---------------------------------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def _relation_frames(frames: DataFrame, frame_col: str) -> list:
    """The log's Relation frames: outer tag 'w' (XLogData) and inner
    message tag 'R' at byte 26 -- one byte-level predicate on the binary
    column, no Python involved. One filter and no projection: on a
    driver-local batch each DataFrame step is a round of analysis, and
    those rounds are most of the pass's cost."""
    return frames.filter(
        F.expr(f"substring({frame_col}, 1, 1) = X'77' AND substring({frame_col}, 26, 1) = X'52'")
    ).collect()


def collect_relations(frames: DataFrame, frame_col: str = "frame") -> dict[int, Relation]:
    """Pass 1: pull Relation ('R') messages out of the frame log into a
    driver-side registry. The filter on the inner tag byte is expressed
    with built-in byte functions so only 'R' frames ever reach Python;
    relations are one-per-table-per-connection, so the collect is
    dim-scale by construction (the reference holds the same registry
    in memory, replicator.go:320-322)."""
    relations: dict[int, Relation] = {}
    for row in _relation_frames(frames, frame_col):
        _, _, _, inner = parse_xlogdata(bytes(row[frame_col]))
        rel = parse_relation(inner)
        # last registration wins, matching connection-order semantics
        relations[rel.relation_id] = rel
    return relations


class RelationVersions:
    """Seq-versioned relation registry: the schema-evolution-correct form
    of the driver-side registry.

    pgoutput re-sends a Relation message on the same connection whenever a
    table's schema changes (ALTER TABLE adds/renames/drops a column), and
    every subsequent DML frame must decode against the newest Relation
    at-or-before it in the log. A flat last-registration-wins dict decodes
    PRE-alter frames against the POST-alter column list -- mis-zipping
    cell values to column names -- which is exactly the failure mode the
    reference's silent re-cache has (``replicator.go:320-336``). Entries
    are (announce_seq, Relation) per OID, ascending; ``at(seq)`` returns a
    view whose ``.get(oid)`` resolves the version governing that frame.
    Frames before any announcement for their OID resolve to None and take
    the dead-letter path (decoding against a future schema would be a
    guess, not a decode)."""

    def __init__(self) -> None:
        self._seqs: dict[int, list[int]] = {}
        self._rels: dict[int, list[Relation]] = {}

    def add(self, seq: int, rel: Relation) -> None:
        seqs = self._seqs.setdefault(rel.relation_id, [])
        rels = self._rels.setdefault(rel.relation_id, [])
        import bisect

        i = bisect.bisect_right(seqs, seq)
        seqs.insert(i, seq)
        rels.insert(i, rel)

    def latest(self) -> dict[int, Relation]:
        """Flat last-wins view (the pre-evolution registry shape)."""
        return {oid: rels[-1] for oid, rels in self._rels.items()}

    def at(self, seq: int) -> "_RegistryAt":
        return _RegistryAt(self, seq)

    def n_versions(self, oid: int) -> int:
        return len(self._seqs.get(oid, ()))


class _RegistryAt:
    """dict-shaped view of RelationVersions as of one frame's seq."""

    def __init__(self, versions: RelationVersions, seq: int) -> None:
        self._v = versions
        self._seq = seq

    def get(self, oid: int) -> Relation | None:
        seqs = self._v._seqs.get(oid)
        if not seqs:
            return None
        import bisect

        i = bisect.bisect_right(seqs, self._seq)
        return self._v._rels[oid][i - 1] if i else None


def collect_relation_versions(
    frames: DataFrame, frame_col: str = "frame", seq_col: str = "seq"
) -> RelationVersions:
    """Pass 1, versioned: pull Relation ('R') frames WITH their log
    position. Same pushed byte-predicates and dim-scale collect as
    ``collect_relations``; the seq column (file order / LSN order) is what
    lets pass 2 resolve each DML frame against the schema in force at its
    position rather than whichever registration happened to be last."""
    versions = RelationVersions()
    for row in _relation_frames(frames, frame_col):
        _, _, _, inner = parse_xlogdata(bytes(row[frame_col]))
        versions.add(int(row[seq_col]), parse_relation(inner))
    return versions


def decode_pgoutput_frames(
    frames: DataFrame, relations: dict[int, Relation] | RelationVersions
) -> DataFrame:
    """Pass 2: decode DML frames to envelope rows with ``mapInPandas``.

    Embarrassingly parallel: each frame decodes independently against the
    broadcast relation registry (Spark serializes ``relations`` into the
    closure once per executor, the exact broadcast shape the 100 TB plan
    needs); no shuffle is introduced -- output partitioning == input file
    partitioning, and the routed sink's own partitionBy does the only
    exchange."""
    out_schema = T.StructType(
        [
            T.StructField("op", T.StringType(), False),
            T.StructField("schema_name", T.StringType(), False),
            T.StructField("table_name", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("key", T.StringType(), True),
            T.StructField(
                "before", T.MapType(T.StringType(), T.StringType(), True), True
            ),
            T.StructField(
                "after", T.MapType(T.StringType(), T.StringType(), True), True
            ),
        ]
    )

    versioned = isinstance(relations, RelationVersions)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            if versioned:
                for seq, frame in zip(pdf["seq"], pdf["frame"]):
                    rows.extend(
                        decode_frame(bytes(frame), relations.at(int(seq)))
                    )
            else:
                for frame in pdf["frame"]:
                    rows.extend(decode_frame(bytes(frame), relations))
            yield pd.DataFrame(
                rows,
                columns=[
                    "op",
                    "schema_name",
                    "table_name",
                    "lsn",
                    "ts",
                    "key",
                    "before",
                    "after",
                ],
            )

    cols = ["seq", "frame"] if versioned else ["frame"]
    return frames.select(*cols).mapInPandas(_decode, out_schema)


def decode_pgoutput(frames: DataFrame) -> DataFrame:
    """End-to-end decode: versioned relation pass + broadcast + DML pass.

    Schema-evolution-correct by default: a mid-stream Relation
    re-announcement (ALTER TABLE) splits the log into regimes and each
    DML frame decodes against the schema in force at its seq."""
    return decode_pgoutput_frames(frames, collect_relation_versions(frames))


# ---------------------------------------------------------------------------
# Frame encoding: fixture/demo generation ONLY (the decode path above is the
# product; encoding lets tests and the registered round-trip query build
# deterministic wire-format logs without a live Postgres).
# ---------------------------------------------------------------------------

# Deterministic instant stamped on generated frames (the registry bans
# wall-clock reads so replays are byte-stable).
FIXTURE_TS = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def _pg_us(ts: _dt.datetime) -> int:
    return int((ts - PG_EPOCH).total_seconds() * 1_000_000)


def encode_cstring(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def encode_xlogdata(wal_start: int, inner: bytes, ts: _dt.datetime = FIXTURE_TS) -> bytes:
    return b"w" + struct.pack(">QQQ", wal_start, wal_start + len(inner), _pg_us(ts)) + inner


def encode_relation(rel_id: int, namespace: str, name: str,
                    columns: list[tuple[str, int, bool]]) -> bytes:
    """columns: (name, type_oid, is_key). Replica identity 'd' (default)."""
    b = b"R" + struct.pack(">i", rel_id) + encode_cstring(namespace)
    b += encode_cstring(name) + b"d" + struct.pack(">h", len(columns))
    for cname, type_oid, is_key in columns:
        b += struct.pack(">B", 1 if is_key else 0) + encode_cstring(cname)
        b += struct.pack(">ii", type_oid, -1)
    return b


def encode_tuple_data(cells: list[str | None]) -> bytes:
    """None -> 'n'; str -> 't' (text format, how pgoutput ships values
    unless binary mode is negotiated)."""
    b = struct.pack(">h", len(cells))
    for c in cells:
        if c is None:
            b += b"n"
        else:
            enc = c.encode("utf-8")
            b += b"t" + struct.pack(">i", len(enc)) + enc
    return b


def encode_insert(rel_id: int, cells: list[str | None]) -> bytes:
    return b"I" + struct.pack(">i", rel_id) + b"N" + encode_tuple_data(cells)
