"""Canonical CDC event envelope: schema + encode/decode codec.

The reference emits two inconsistent JSON shapes (snapshot
``{type,schema,table,columns,values,timestamp}`` at
``internal/wal/replicator.go:138-145`` vs insert
``{type,schema,table,lsn,timestamp,data}`` at ``replicator.go:360-367``)
and its consumer silently drops snapshot payloads because of it
(``cmd/es_consumer/main.go:23,80`` -- SURVEY.md §1.4 quirk). The engine
uses ONE envelope for every op (FIXTURES.md A2):

    op           string     snapshot | insert | update | delete | truncate
    schema_name  string
    table_name   string
    lsn          long       monotonic ordinal (reference: uint64 LSN,
                            ``internal/store/store.go:45-47``)
    ts           timestamp  (reference emits RFC3339Nano strings,
                            ``replicator.go:144,365``)
    key          string     schema.table:pk (``replicator.go:374-379``),
                            built from the *declared* catalog PK, not the
                            first-column assumption (``replicator.go:341``);
                            composite parts join with ``|`` (``key_of_parts``)
    before       map<string,string>  old tuple (update/delete; the reference
                            stubs these, R14/R15 -- the engine implements them)
    after        map<string,string>  new tuple (snapshot/insert/update),
                            values string-degraded exactly as the reference
                            does (``replicator.go:134,351-352``)

Payload maps are string-degraded (the reference's type system, SURVEY.md
§1.2); the *typed* surface is recovered via ``decode_payload`` against the
engine catalog -- the analogue of the consumer's dynamic unmarshal done
with explicit schemas.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OPS = ("snapshot", "insert", "update", "delete", "truncate")

PAYLOAD_TYPE = T.MapType(T.StringType(), T.StringType(), valueContainsNull=True)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("before", PAYLOAD_TYPE, True),
        T.StructField("after", PAYLOAD_TYPE, True),
    ]
)


def _string_degraded_map(cols: list[str], prefix: str = "") -> Column:
    """Build map<colname, cast(col as string)> -- the reference stringifies
    every cell (``replicator.go:134``); NULL stays NULL (``:131-132``)."""
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c in cols]),
        F.array(*[F.col(prefix + c).cast("string") for c in cols]),
    )


# The one key rule, shared by the snapshot/encode path (``cdc_key``, JVM
# side) and the wire decode (``pgoutput._key_of``, Python): composite key
# parts join with KEY_PART_SEP, a NULL part renders as the empty string,
# and a key whose parts are all NULL is the reference's ``no_pk_val``
# fallback (``replicator.go:375-380``). Both paths must agree, or a row
# snapshotted and later changed over the wire lives under two keys.
KEY_PART_SEP = "|"
NO_PK_VAL = "no_pk_val"


def key_of_parts(schema_name: str, table_name: str, parts: list[str | None]) -> str:
    """``schema.table:pk[|pk2...]`` from already-stringified key parts."""
    if all(p is None for p in parts):
        return f"{schema_name}.{table_name}:{NO_PK_VAL}"
    return f"{schema_name}.{table_name}:" + KEY_PART_SEP.join(
        "" if p is None else p for p in parts
    )


def cdc_key(schema_name: str, table_name: str, pk_cols: list[str]) -> Column:
    """``key_of_parts`` as a column -- reference key construction
    (``replicator.go:374-379``) generalized to composite declared PKs."""
    parts = [F.col(c).cast("string") for c in pk_cols]
    all_null = reduce(lambda a, b: a & b, [p.isNull() for p in parts])
    pk = F.when(all_null, F.lit(NO_PK_VAL)).otherwise(
        F.concat_ws(KEY_PART_SEP, *[F.coalesce(p, F.lit("")) for p in parts])
    )
    return F.concat(F.lit(f"{schema_name}.{table_name}:"), pk)


def encode(
    df: DataFrame,
    *,
    op: str,
    schema_name: str,
    table_name: str,
    pk_cols: list[str],
    lsn: Column,
    ts: Column | None = None,
    before_cols: list[str] | None = None,
) -> DataFrame:
    """Project typed rows into the canonical envelope (reference R3/R13:
    row -> event construction). Narrow ``select`` -- no shuffle, codegen'd.

    ``op='snapshot'|'insert'`` populate ``after``; ``'delete'`` populates
    ``before``; ``'update'`` populates both (``before_cols`` names the
    old-image columns, e.g. aliased ``old_*`` columns)."""
    if op not in OPS:
        raise ValueError(f"op must be one of {OPS}, got {op!r}")
    # underscore-prefixed columns are caller metadata (ordinals etc.), never payload
    data_cols = [
        c for c in df.columns if not c.startswith("_") and not (before_cols and c in before_cols)
    ]
    after = (
        _string_degraded_map(data_cols)
        if op in ("snapshot", "insert", "update")
        else F.lit(None).cast(PAYLOAD_TYPE)
    )
    if op in ("delete", "update") and before_cols:
        before = F.map_from_arrays(
            F.array(*[F.lit(c.removeprefix("old_")) for c in before_cols]),
            F.array(*[F.col(c).cast("string") for c in before_cols]),
        )
    elif op == "delete":
        before = _string_degraded_map(data_cols)
    else:
        before = F.lit(None).cast(PAYLOAD_TYPE)
    return df.select(
        F.lit(op).alias("op"),
        F.lit(schema_name).alias("schema_name"),
        F.lit(table_name).alias("table_name"),
        lsn.cast("long").alias("lsn"),
        (ts if ts is not None else F.current_timestamp()).alias("ts"),
        cdc_key(schema_name, table_name, pk_cols).alias("key"),
        before.alias("before"),
        after.alias("after"),
    )


def decode_payload(env: DataFrame, schema: T.StructType, side: str = "after") -> DataFrame:
    """Recover typed columns from the string-degraded payload map using the
    catalog schema -- the engine's replacement for the consumer's dynamic
    ``json.Unmarshal`` + ES dynamic mapping (``es_consumer/main.go:23``).
    Keeps envelope metadata (op, lsn, ts, key) alongside."""
    typed = [
        F.element_at(F.col(side), f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return env.select("op", "schema_name", "table_name", "lsn", "ts", "key", *typed)


def to_json_value(env: DataFrame) -> DataFrame:
    """Envelope -> (key, value-JSON) wire shape for a Kafka-style sink
    (reference publishes keyed JSON, ``internal/kafka/producer.go:35-42``)."""
    return env.select(
        F.col("key"),
        F.to_json(F.struct(*[F.col(c) for c in env.columns])).alias("value"),
    )


def from_json_value(df: DataFrame, value_col: str = "value") -> DataFrame:
    """(value-JSON) -> envelope; malformed rows decode to NULL fields and
    can be routed to a dead-letter sink rather than crashing the stream
    (the reference skips malformed events, ``es_consumer/main.go:66-71``)."""
    return df.select(F.from_json(F.col(value_col), ENVELOPE_SCHEMA).alias("e")).select("e.*")
