"""PostgreSQL streaming-replication (walsender) TCP client -- the live
wire path of reference R7 (``internal/wal/replicator.go:186-242``, where
pglogrepl dials the server, creates the slot, starts replication, and
pumps CopyData frames).

Everything here is the PUBLIC PostgreSQL Frontend/Backend protocol
(docs: "Frontend/Backend Protocol > Message Formats" and "Streaming
Replication Protocol"), implemented over stdlib sockets -- no driver
dependency, so the module always imports; only a live server gates the
tests (an in-process mock walsender exercises the full client path in
CI, and a skip-marked test runs against ``$SPARK_GRAFT_PG_DSN`` where a
real Postgres exists).

Protocol subset implemented:

- StartupMessage (protocol 3.0) with ``replication=database`` -- the
  magic parameter that turns the session into a walsender;
- Authentication: Ok, cleartext password, MD5 password (the classic
  ``md5 + md5(md5(password + user) + salt)`` double hash);
- Simple query over the replication grammar: ``IDENTIFY_SYSTEM``,
  ``CREATE_REPLICATION_SLOT ... LOGICAL pgoutput``,
  ``START_REPLICATION SLOT ... LOGICAL <lsn> (proto_version '1',
  publication_names '...')``;
- CopyBoth mode: inbound CopyData frames carry the SAME inner
  ``'w'`` (XLogData) / ``'k'`` (keepalive) bytes `sources/pgoutput.py`
  already decodes from fixtures -- this client is a transport, not a
  second decoder; outbound CopyData carries Standby Status Update
  (``'r'``) messages acknowledging the flushed LSN (the keepalive
  reply-requested contract, replicator.go:291-302).

Bridge to Spark: ``pump()`` yields raw inner frames;
``frames_to_df(spark, frames)`` lifts a drained batch into the
``pgoutput.FRAME_SCHEMA`` relation that ``decode_pgoutput`` consumes, so
the live path and the fixture path share every byte of decode logic. At
scale the client is a SINGLE-connection tailer by design (a replication
slot is inherently serial); the distributed work -- decode, routing,
sinks -- happens downstream of the frame log it appends, exactly like
the Kafka topology."""

from __future__ import annotations

import hashlib
import socket
import struct
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

# Postgres epoch (2000-01-01) in unix microseconds -- standby status
# timestamps are microseconds since this epoch.
_PG_EPOCH_UNIX_US = 946_684_800_000_000

PROTOCOL_V3 = 196608  # 3 << 16


class WalSenderError(RuntimeError):
    """Server ErrorResponse or protocol violation."""


def lsn_str(lsn: int) -> str:
    """int -> 'XXXXXXXX/XXXXXXXX' (the wire-text LSN form)."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def lsn_int(s: str) -> int:
    hi, lo = s.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _md5_password(user: str, password: str, salt: bytes) -> str:
    inner = hashlib.md5((password + user).encode()).hexdigest()
    return "md5" + hashlib.md5(inner.encode() + salt).hexdigest()


@dataclass
class BackendMessage:
    type: bytes  # single byte tag
    payload: bytes


@dataclass
class WalSenderClient:
    """Minimal walsender frontend. Not thread-safe; one connection, one
    replication stream -- the shape a slot enforces server-side anyway."""

    host: str = "localhost"
    port: int = 5432
    user: str = "postgres"
    dbname: str = "postgres"
    password: str | None = None
    timeout: float = 10.0
    _sock: socket.socket | None = field(default=None, repr=False)
    _buf: bytes = field(default=b"", repr=False)

    # ------------------------------------------------------------ wire io

    def _send(self, data: bytes) -> None:
        assert self._sock is not None, "not connected"
        self._sock.sendall(data)

    def _recv_exact(self, n: int) -> bytes:
        assert self._sock is not None, "not connected"
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise WalSenderError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> BackendMessage:
        tag = self._recv_exact(1)
        (length,) = struct.unpack(">i", self._recv_exact(4))
        payload = self._recv_exact(length - 4)
        if tag == b"E":
            raise WalSenderError(self._error_text(payload))
        return BackendMessage(tag, payload)

    @staticmethod
    def _error_text(payload: bytes) -> str:
        parts = []
        off = 0
        while off < len(payload) and payload[off : off + 1] != b"\x00":
            code = chr(payload[off])
            end = payload.index(b"\x00", off + 1)
            parts.append(f"{code}={payload[off + 1:end].decode('utf-8', 'replace')}")
            off = end + 1
        return "; ".join(parts) or "unknown server error"

    # --------------------------------------------------------- connection

    def connect(self) -> "WalSenderClient":
        self._sock = socket.create_connection((self.host, self.port), self.timeout)
        self._sock.settimeout(self.timeout)
        params = {
            "user": self.user,
            "database": self.dbname,
            # the walsender switch: a normal session cannot run
            # IDENTIFY_SYSTEM / START_REPLICATION
            "replication": "database",
            "application_name": "cdc-engine-spark",
        }
        body = struct.pack(">i", PROTOCOL_V3)
        for k, v in params.items():
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self._send(struct.pack(">i", len(body) + 4) + body)
        self._auth_loop()
        return self

    def _auth_loop(self) -> None:
        while True:
            msg = self._read_message()
            if msg.type == b"R":
                (code,) = struct.unpack_from(">i", msg.payload, 0)
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # cleartext
                    if self.password is None:
                        raise WalSenderError("server demands a password; none configured")
                    self._password_message(self.password)
                elif code == 5:  # md5
                    if self.password is None:
                        raise WalSenderError("server demands a password; none configured")
                    salt = msg.payload[4:8]
                    self._password_message(_md5_password(self.user, self.password, salt))
                else:
                    raise WalSenderError(f"unsupported auth method {code} (need 0/3/5)")
            elif msg.type in (b"S", b"K", b"N"):  # ParameterStatus/KeyData/Notice
                continue
            elif msg.type == b"Z":  # ReadyForQuery
                return
            else:
                raise WalSenderError(f"unexpected message {msg.type!r} during startup")

    def _password_message(self, text: str) -> None:
        body = text.encode() + b"\x00"
        self._send(b"p" + struct.pack(">i", len(body) + 4) + body)

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._send(b"X" + struct.pack(">i", 4))  # Terminate
            except OSError:
                pass
            self._sock.close()
            self._sock = None

    def __enter__(self) -> "WalSenderClient":
        return self.connect()

    def __exit__(self, *exc) -> bool:
        self.close()
        return False

    # ------------------------------------------------------- simple query

    def simple_query(self, sql: str) -> list[dict[str, str | None]]:
        """Run one replication-grammar command; return DataRows as dicts
        keyed by RowDescription column names (all text-format)."""
        body = sql.encode() + b"\x00"
        self._send(b"Q" + struct.pack(">i", len(body) + 4) + body)
        cols: list[str] = []
        rows: list[dict[str, str | None]] = []
        while True:
            msg = self._read_message()
            if msg.type == b"T":  # RowDescription
                (n,) = struct.unpack_from(">h", msg.payload, 0)
                off = 2
                cols = []
                for _ in range(n):
                    end = msg.payload.index(b"\x00", off)
                    cols.append(msg.payload[off:end].decode())
                    off = end + 1 + 18  # fixed per-field trailer
            elif msg.type == b"D":  # DataRow
                (n,) = struct.unpack_from(">h", msg.payload, 0)
                off = 2
                vals: list[str | None] = []
                for _ in range(n):
                    (ln,) = struct.unpack_from(">i", msg.payload, off)
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(msg.payload[off : off + ln].decode())
                        off += ln
                rows.append(dict(zip(cols, vals)))
            elif msg.type in (b"C", b"S", b"N"):  # CommandComplete etc.
                continue
            elif msg.type == b"Z":  # ReadyForQuery
                return rows
            else:
                raise WalSenderError(f"unexpected message {msg.type!r} in query")

    def identify_system(self) -> dict[str, str | None]:
        rows = self.simple_query("IDENTIFY_SYSTEM")
        if not rows:
            raise WalSenderError("IDENTIFY_SYSTEM returned no row")
        return rows[0]

    def create_replication_slot(self, slot: str) -> dict[str, str | None]:
        """CREATE_REPLICATION_SLOT <slot> LOGICAL pgoutput -- the
        reference's slot bootstrap (replicator.go: CreateReplicationSlot).
        Returns the slot row (snapshot point rides in consistent_point)."""
        rows = self.simple_query(
            f"CREATE_REPLICATION_SLOT {slot} LOGICAL pgoutput"
        )
        return rows[0] if rows else {}

    # -------------------------------------------------------- replication

    def start_replication(
        self, slot: str, publication: str, start_lsn: int = 0
    ) -> None:
        """Enter CopyBoth mode. After this call use ``pump()``."""
        sql = (
            f"START_REPLICATION SLOT {slot} LOGICAL {lsn_str(start_lsn)} "
            f"(proto_version '1', publication_names '{publication}')"
        )
        body = sql.encode() + b"\x00"
        self._send(b"Q" + struct.pack(">i", len(body) + 4) + body)
        while True:
            msg = self._read_message()
            if msg.type == b"W":  # CopyBothResponse
                return
            if msg.type in (b"S", b"N", b"C"):
                continue
            raise WalSenderError(
                f"expected CopyBothResponse, got {msg.type!r}"
            )

    def pump(
        self,
        *,
        max_frames: int | None = None,
        deadline_s: float | None = None,
        on_keepalive: Callable[[dict], None] | None = None,
        clock: Callable[[], float] = time.time,
    ) -> Iterator[bytes]:
        """Yield inner replication frames (the ``'w'``/``'k'``-tagged bytes
        ``pgoutput.decode_frame`` understands) from CopyData messages.

        Keepalives with reply-requested are acknowledged automatically
        with a Standby Status Update carrying the highest wal_end seen
        (the at-least-once contract: we confirm RECEIPT; durable flush
        confirmation belongs to the sink's checkpoint, and replaying an
        over-acknowledged gap is exactly what the engine's idempotent
        doc-id sinks absorb). CopyDone ends the iterator cleanly, and so
        does a socket timeout on a QUIET server (idle WAL, keepalive
        interval longer than the socket timeout): the bounded drain
        RETURNS the frames already received instead of raising and
        losing them. A timeout can strand partial bytes mid-message, so
        the connection is single-drain after that -- close and redial,
        which is what replicate_batch callers do anyway."""
        flushed = 0
        start = clock()
        n = 0
        while True:
            if max_frames is not None and n >= max_frames:
                return
            if deadline_s is not None and clock() - start > deadline_s:
                return
            try:
                msg = self._read_message()
            except (TimeoutError, socket.timeout):
                return
            if msg.type == b"d":  # CopyData -> inner frame
                inner = msg.payload
                tag = inner[0:1]
                if tag == b"w":
                    (wal_end,) = struct.unpack_from(">q", inner, 9)
                    flushed = max(flushed, wal_end)
                elif tag == b"k":
                    wal_end, _, reply = struct.unpack_from(">qqB", inner, 1)
                    flushed = max(flushed, wal_end)
                    if on_keepalive is not None:
                        on_keepalive({"wal_end": wal_end, "reply": bool(reply)})
                    if reply:
                        self.send_standby_status(flushed, clock=clock)
                yield inner
                n += 1
            elif msg.type == b"c":  # CopyDone: server ended the stream
                return
            elif msg.type in (b"S", b"N"):
                continue
            elif msg.type == b"Z":
                return
            else:
                raise WalSenderError(f"unexpected message {msg.type!r} in CopyBoth")

    def send_standby_status(
        self, flushed_lsn: int, *, clock: Callable[[], float] = time.time
    ) -> None:
        """Standby Status Update: written/flushed/applied all set to the
        acknowledged LSN + 1 (the byte AFTER the last received, per the
        protocol's confirm convention), reply-requested off."""
        ack = flushed_lsn + 1 if flushed_lsn else 0
        now_pg_us = int(clock() * 1_000_000) - _PG_EPOCH_UNIX_US
        inner = b"r" + struct.pack(">qqqqB", ack, ack, ack, now_pg_us, 0)
        self._send(b"d" + struct.pack(">i", len(inner) + 4) + inner)


# ------------------------------------------------------------ spark bridge


def frames_to_df(spark, frames: list[bytes]):
    """Lift a drained frame batch into ``pgoutput.FRAME_SCHEMA`` (seq
    preserves arrival order -- the decode's LSN regime resolution needs
    it). The live path and the byte-fixture path converge here: every
    downstream byte of decode/envelope/sink logic is shared.

    The batch crosses to the JVM as one Arrow table and plans as a
    ``LocalTableScan``: the frames are already on the driver, so the
    relation pass (``pgoutput.collect_relation_versions``) folds its byte
    filters and collect there and runs no Spark job, while the DML pass
    still spreads the rows over the default parallelism."""
    import pyarrow as pa

    from change_data_capture_service_spark.sources.pgoutput import FRAME_SCHEMA

    table = pa.table(
        {
            "seq": pa.array(range(len(frames)), pa.int64()),
            "frame": pa.array(frames, pa.binary()),
        }
    )
    return spark.createDataFrame(table, FRAME_SCHEMA)


def replicate_batch(
    client: WalSenderClient,
    slot: str,
    publication: str,
    *,
    start_lsn: int = 0,
    max_frames: int | None = None,
    deadline_s: float | None = 5.0,
) -> list[bytes]:
    """One bounded drain: START_REPLICATION then pump until the frame
    budget or deadline. The micro-batch form of the reference's endless
    receive loop -- callers append the result to the frame log that
    Structured Streaming tails."""
    client.start_replication(slot, publication, start_lsn)
    return list(client.pump(max_frames=max_frames, deadline_s=deadline_s))
