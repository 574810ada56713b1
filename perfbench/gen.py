"""Seeded input generators and the truth model they keep.

Everything here is pure Python/NumPy (no Spark), so the same seed gives
byte-identical inputs on every machine:

- ``ReplicateStream``: an OLTP change stream over three tables, wrapped in
  Begin/Commit transactions and encoded as pgoutput XLogData frames, with
  one mid-run ALTER (Relation re-announce) and one TRUNCATE;
- ``ServeStream``: envelope change rows for the ``accounts`` table the
  serve writer appends, plus the history that is preloaded before timing;
- ``write_layout``: the small TPC-H-shaped parquet layout the analyst's
  registry operators read;
- ``TruthModel``: every op applied in LSN order -- the state the sinks
  must end up holding.

Every change carries ``due``: seconds from the open loop's origin at
which the source committed it (negative for warm-up changes)."""

from __future__ import annotations

import datetime as dt
import random
import struct
from dataclasses import dataclass, field

import numpy as np

from change_data_capture_service_spark.sources import pgoutput as P

FIRST_LSN = 0x1000_0000
LSN_STEP = 0x40


@dataclass(frozen=True)
class TableSpec:
    name: str
    oid: int
    columns: tuple[tuple[str, int, bool], ...]  # (name, type oid, is key)

    @property
    def key_cols(self) -> tuple[str, ...]:
        return tuple(c for c, _, k in self.columns if k)

    @property
    def col_names(self) -> tuple[str, ...]:
        return tuple(c for c, _, _ in self.columns)

    def widened(self, name: str) -> "TableSpec":
        return TableSpec(self.name, self.oid, self.columns + ((name, 25, False),))


USERS = TableSpec(
    "users", 16401, (("id", 20, True), ("name", 25, False), ("email", 25, False), ("status", 25, False))
)
# composite primary key: snapshotted, then replicated over the wire
ORDER_ITEMS = TableSpec(
    "order_items", 16402, (("order_id", 20, True), ("line_no", 23, True), ("sku", 25, False), ("qty", 23, False))
)
CARTS = TableSpec("carts", 16403, (("cart_id", 20, True), ("user_id", 20, False), ("items", 23, False)))
REPLICATED = (USERS, ORDER_ITEMS, CARTS)
ALTER_TABLE, ALTER_COLUMN = "users", "tier"
TRUNCATE_TABLE = "carts"
# snapshot sizes of the replicated tables, and the key skew of their changes
N_USERS, N_ORDERS, LINES_PER_ORDER, N_CARTS = 2000, 500, 3, 400
REPLICATE_ZIPF_A = 1.3
SERVE_ZIPF_A = 1.2  # key skew of the accounts changes

ACCOUNTS = TableSpec(
    "accounts",
    16501,
    (("id", 20, True), ("name", 25, False), ("balance_cents", 20, False), ("status", 25, False)),
)
STATUSES = ("active", "idle", "frozen", "closed")


@dataclass
class Change:
    op: str  # insert | update | delete | truncate
    table: str
    pk: tuple[str, ...] | None
    row: dict[str, str] | None  # full new row for insert/update
    lsn: int
    due: float


@dataclass
class Txn:
    due: float
    changes: list[Change]
    frames: list[bytes] = field(default_factory=list)
    # relations in force when the transaction begins: what a fresh
    # replication connection announces ahead of it
    relations: tuple[TableSpec, ...] = ()


class TruthModel:
    """Latest row per primary key, per table, as the source holds it."""

    def __init__(self) -> None:
        self.tables: dict[str, dict[tuple[str, ...], dict[str, str]]] = {}

    def load(self, table: str, key_cols: tuple[str, ...], rows: list[dict[str, str]]) -> None:
        t = self.tables.setdefault(table, {})
        for r in rows:
            t[tuple(r[k] for k in key_cols)] = dict(r)

    def apply(self, ch: Change) -> None:
        t = self.tables.setdefault(ch.table, {})
        if ch.op == "truncate":
            t.clear()
        elif ch.op == "delete":
            t.pop(ch.pk, None)
        else:
            t[ch.pk] = dict(ch.row)

    def live(self) -> int:
        return sum(len(t) for t in self.tables.values())


class _Keys:
    """Live primary keys in a stable order; low positions are hot."""

    def __init__(self, pks: list[tuple[str, ...]]):
        self.order = list(pks)
        self.pos = {pk: i for i, pk in enumerate(self.order)}

    def add(self, pk: tuple[str, ...]) -> None:
        self.pos[pk] = len(self.order)
        self.order.append(pk)

    def remove(self, pk: tuple[str, ...]) -> None:
        i = self.pos.pop(pk)
        last = self.order.pop()
        if i < len(self.order):
            self.order[i] = last
            self.pos[last] = i

    def clear(self) -> None:
        self.order.clear()
        self.pos.clear()

    def __len__(self) -> int:
        return len(self.order)


def _zipf_index(rng: np.random.Generator, n: int, a: float) -> int:
    while True:
        k = int(rng.zipf(a))
        if k <= n:
            return k - 1


def _pg_ts(due: float) -> dt.datetime:
    return P.FIXTURE_TS + dt.timedelta(seconds=max(due, -3600.0) + 3600.0)


def _tuple(cells: list[str | None]) -> bytes:
    return P.encode_tuple_data(cells)


def encode_change(spec: TableSpec, ch: Change) -> bytes:
    """One DML change -> its pgoutput inner message."""
    oid = struct.pack(">i", spec.oid)
    if ch.op == "insert":
        return P.encode_insert(spec.oid, [ch.row[c] for c in spec.col_names])
    if ch.op == "update":
        return b"U" + oid + b"N" + _tuple([ch.row[c] for c in spec.col_names])
    if ch.op == "delete":
        keys = dict(zip(spec.key_cols, ch.pk))
        return b"D" + oid + b"K" + _tuple([keys.get(c) for c in spec.col_names])
    if ch.op == "truncate":
        return b"T" + struct.pack(">iB", 1, 0) + oid
    raise ValueError(ch.op)


def relation_frame(spec: TableSpec, lsn: int) -> bytes:
    return P.encode_xlogdata(
        lsn, P.encode_relation(spec.oid, "public", spec.name, list(spec.columns))
    )


class ReplicateStream:
    """Seeded OLTP change stream over users / order_items / carts.

    ``rate`` changes per second from ``-warmup_s`` to ``seconds``; changes
    are grouped into 1-4 change transactions due at their last change.
    The ALTER lands at 40% and the TRUNCATE at 60% of the timed changes."""

    TABLE_WEIGHTS = (0.5, 0.35, 0.15)
    OP_WEIGHTS = {"update": 0.6, "insert": 0.25, "delete": 0.15}

    def __init__(self, seed: int, *, rate: float, seconds: float, warmup_s: float):
        self.rng = random.Random(seed)
        self.np_rng = np.random.Generator(np.random.PCG64(seed))
        self.snapshot = {
            "users": [self._user_row(str(i), altered=False) for i in range(N_USERS)],
            "order_items": [
                self._item_row(str(o), str(ln)) for o in range(N_ORDERS) for ln in range(1, LINES_PER_ORDER + 1)
            ],
            "carts": [self._cart_row(str(c)) for c in range(N_CARTS)],
        }
        self.specs = {s.name: s for s in REPLICATED}
        self._keys = {
            s.name: _Keys([tuple(r[k] for k in s.key_cols) for r in self.snapshot[s.name]]) for s in REPLICATED
        }
        self._next = {"users": N_USERS, "order_items": N_ORDERS, "carts": N_CARTS}
        self._lsn = FIRST_LSN
        self.txns = self._build(rate, seconds, warmup_s)

    # ---- row makers (all values text, the way pgoutput ships them)

    def _user_row(self, uid: str, altered: bool) -> dict[str, str]:
        r = {
            "id": uid,
            "name": f"user-{self.rng.randrange(10**6)}",
            "email": f"u{uid}@example.org",
            "status": self.rng.choice(STATUSES),
        }
        if altered:
            r[ALTER_COLUMN] = self.rng.choice(("free", "pro", "team"))
        return r

    def _item_row(self, order_id: str, line_no: str) -> dict[str, str]:
        return {
            "order_id": order_id,
            "line_no": line_no,
            "sku": f"sku-{self.rng.randrange(5000)}",
            "qty": str(self.rng.randrange(1, 20)),
        }

    def _cart_row(self, cart_id: str) -> dict[str, str]:
        return {
            "cart_id": cart_id,
            "user_id": str(self.rng.randrange(N_USERS)),
            "items": str(self.rng.randrange(1, 9)),
        }

    def _new_row(self, table: str, pk: tuple[str, ...] | None) -> tuple[tuple[str, ...], dict[str, str]]:
        if table == "users":
            uid = pk[0] if pk else str(self._next_id("users"))
            row = self._user_row(uid, altered=ALTER_COLUMN in self.specs["users"].col_names)
            return (uid,), row
        if table == "order_items":
            o, ln = pk if pk else (str(self._next_id("order_items")), "1")
            return (o, ln), self._item_row(o, ln)
        cid = pk[0] if pk else str(self._next_id("carts"))
        return (cid,), self._cart_row(cid)

    def _next_id(self, table: str) -> int:
        self._next[table] += 1
        return self._next[table] - 1

    def _next_lsn(self) -> int:
        self._lsn += LSN_STEP
        return self._lsn

    # ---- stream

    def _change(self, due: float) -> Change:
        table = self.rng.choices([s.name for s in REPLICATED], self.TABLE_WEIGHTS)[0]
        op = self.rng.choices(list(self.OP_WEIGHTS), list(self.OP_WEIGHTS.values()))[0]
        keys = self._keys[table]
        if op != "insert" and not len(keys):
            op = "insert"
        if op == "insert":
            pk, row = self._new_row(table, None)
            keys.add(pk)
        else:
            pk = keys.order[_zipf_index(self.np_rng, len(keys), REPLICATE_ZIPF_A)]
            row = None
            if op == "update":
                pk, row = self._new_row(table, pk)
            else:
                keys.remove(pk)
        return Change(op, table, pk, row, 0, due)

    def _build(self, rate: float, seconds: float, warmup_s: float) -> list[Txn]:
        n_warm = int(round(rate * warmup_s))
        n_total = n_warm + int(round(rate * seconds))
        alter_at = n_warm + int(0.4 * (n_total - n_warm))
        trunc_at = n_warm + int(0.6 * (n_total - n_warm))
        txns: list[Txn] = []
        k = 0
        while k < n_total:
            if k == trunc_at:
                due = (k - n_warm) / rate
                ch = Change("truncate", TRUNCATE_TABLE, None, None, 0, due)
                self._keys[TRUNCATE_TABLE].clear()
                txn = self._encode_txn(due, [ch], alter=False)
                txn.relations = tuple(self.specs.values())
                txns.append(txn)
                trunc_at = -1
                k += 1
                continue
            size = min(self.rng.randint(1, 4), n_total - k)
            if trunc_at > k:
                size = min(size, trunc_at - k)
            relations = tuple(self.specs.values())
            alter = k <= alter_at < k + size
            if alter:
                self.specs[ALTER_TABLE] = self.specs[ALTER_TABLE].widened(ALTER_COLUMN)
            due = (k + size - 1 - n_warm) / rate
            changes = [self._change(due) for _ in range(size)]
            txn = self._encode_txn(due, changes, alter=alter)
            txn.relations = relations
            txns.append(txn)
            k += size
        return txns

    def _encode_txn(self, due: float, changes: list[Change], alter: bool) -> Txn:
        ts = _pg_ts(due)
        us = P._pg_us(ts)
        begin_lsn = self._next_lsn()
        frames: list[bytes] = []
        if alter:  # pgoutput re-announces the relation before the next DML on it
            frames.append(relation_frame(self.specs[ALTER_TABLE], self._next_lsn()))
        for ch in changes:
            ch.lsn = self._next_lsn()
            frames.append(P.encode_xlogdata(ch.lsn, encode_change(self.specs[ch.table], ch), ts))
        commit_lsn = self._next_lsn()
        xid = len(frames) + begin_lsn // LSN_STEP
        begin = b"B" + struct.pack(">QQi", commit_lsn, us, xid & 0x7FFFFFFF)
        commit = b"C" + struct.pack(">BQQQ", 0, commit_lsn, commit_lsn + LSN_STEP, us)
        frames = [P.encode_xlogdata(begin_lsn, begin, ts), *frames, P.encode_xlogdata(commit_lsn, commit, ts)]
        return Txn(due, changes, frames)

    def truth(self, upto: int | None = None) -> TruthModel:
        """Snapshot plus the first ``upto`` transactions, in LSN order."""
        tm = TruthModel()
        for s in REPLICATED:
            tm.load(s.name, s.key_cols, self.snapshot[s.name])
        for t in self.txns[:upto]:
            for ch in t.changes:
                tm.apply(ch)
        return tm


class ServeStream:
    """Envelope changes to ``public.accounts`` for the serve writer.

    ``history`` holds ``history_epochs`` pre-timing epochs of changes (the
    uncompacted history); ``txns`` is the timed open-loop stream, one
    change per transaction at ``rate`` changes per second."""

    OP_WEIGHTS = {"update": 0.7, "insert": 0.2, "delete": 0.1}

    def __init__(
        self,
        seed: int,
        *,
        rate: float,
        seconds: float,
        n_accounts: int = 10000,
        history_epochs: int = 4,
        history_epoch_changes: int = 2000,
    ):
        self.rng = random.Random(seed)
        self.np_rng = np.random.Generator(np.random.PCG64(seed))
        self.snapshot = [self._row(str(i)) for i in range(n_accounts)]
        self._keys = _Keys([(r["id"],) for r in self.snapshot])
        self._next = n_accounts
        self._lsn = FIRST_LSN
        self.history = [
            [self._change(-1.0) for _ in range(history_epoch_changes)] for _ in range(history_epochs)
        ]
        n = int(round(rate * seconds))
        self.txns = [Txn(k / rate, [self._change(k / rate)]) for k in range(n)]

    def _row(self, aid: str) -> dict[str, str]:
        return {
            "id": aid,
            "name": f"acct-{self.rng.randrange(10**6)}",
            "balance_cents": str(self.rng.randrange(0, 10**7)),
            "status": self.rng.choice(STATUSES),
        }

    def _change(self, due: float) -> Change:
        op = self.rng.choices(list(self.OP_WEIGHTS), list(self.OP_WEIGHTS.values()))[0]
        self._lsn += LSN_STEP
        if op == "insert" or not len(self._keys):
            aid = str(self._next)
            self._next += 1
            self._keys.add((aid,))
            return Change("insert", "accounts", (aid,), self._row(aid), self._lsn, due)
        pk = self._keys.order[_zipf_index(self.np_rng, len(self._keys), SERVE_ZIPF_A)]
        if op == "delete":
            self._keys.remove(pk)
            return Change("delete", "accounts", pk, None, self._lsn, due)
        return Change("update", "accounts", pk, self._row(pk[0]), self._lsn, due)

    def truth(self, upto: int | None = None) -> TruthModel:
        tm = TruthModel()
        tm.load("accounts", ACCOUNTS.key_cols, self.snapshot)
        for epoch in self.history:
            for ch in epoch:
                tm.apply(ch)
        for t in self.txns[:upto]:
            for ch in t.changes:
                tm.apply(ch)
        return tm


def envelope_rows(changes: list[Change]) -> list[tuple]:
    """Changes -> typed rows for ``envelope.encode`` (``_op``/``_lsn`` are
    caller metadata columns, the rest is the accounts payload)."""
    out = []
    for ch in changes:
        r = ch.row or {}
        out.append(
            (
                ch.op,
                ch.lsn,
                int(ch.pk[0]),
                r.get("name"),
                int(r["balance_cents"]) if "balance_cents" in r else None,
                r.get("status"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# analytic layout for the serve analyst's registry operators


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write_layout(seed: int, out_dir: str, *, n_orders: int = 15000) -> dict[str, int]:
    """Write a seeded TPC-H-shaped layout (the tables the analyst's
    registry operators read) as one parquet file per table, typed to the
    engine catalog. Returns row counts per table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_events, n_vec, dim = n_orders // 10, max(n_orders // 150, 10), n_orders, 1000, 32
    epoch = np.datetime64("1992-01-01T00:00:00", "ms")

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION{i:02d}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": cents(-999, 9999, n_cust),
                "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"], n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": cents(-999, 9999, n_supp),
            }
        ),
    }
    odays = rng.integers(0, 2400, n_orders)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": cents(1000, 400000, n_orders),
            "o_orderdate": pa.array(epoch + odays.astype("timedelta64[D]"), pa.timestamp("ms")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    lk = np.repeat(np.arange(n_orders), lines)
    n_li = len(lk)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lk, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": cents(900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(
                epoch + (np.repeat(odays, lines) + rng.integers(1, 122, n_li)).astype("timedelta64[D]"),
                pa.timestamp("ms"),
            ),
        }
    )
    ev_us = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 90 * 86400 * 10**6, n_events).astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_events // 10, n_events), pa.int64()),
            "event_type": rng.choice(["view", "click", "cart", "purchase"], n_events),
            "value": cents(0, 500, n_events),
            "props": [f'{{"k":{int(v)}}}' for v in rng.integers(0, 100, n_events)],
        }
    )
    vecs = rng.standard_normal((n_vec, dim)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
