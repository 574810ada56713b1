"""Correctness oracles: sink and Elasticsearch state against the
generator's truth model, and registry operators against their DuckDB
twins.

A key mismatches when the store does not hold exactly one row for it with
exactly the truth's column values (or holds a row for a key the truth
does not have). Mismatches are all counted. Those that the composite-key
separator defect explains are also counted separately: the snapshot path
(``envelope.cdc_key``) joins key parts with ``_`` while the wire path
(``pgoutput._key_of``) joins them with ``|``, so a composite key that is
snapshotted and later changed over the wire lives under two keys."""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class StateCheck:
    live_keys: int = 0
    mismatched: set = field(default_factory=set)  # (table, pk)
    composite_sep: set = field(default_factory=set)  # subset explained by the separator defect
    by_store: dict = field(default_factory=dict)  # store -> mismatch count

    @property
    def mismatch_rate(self) -> float:
        return len(self.mismatched) / max(self.live_keys, 1)

    @property
    def unexplained(self) -> int:
        return len(self.mismatched - self.composite_sep)


def _rows_ok(rows: list[tuple[str, dict]], want: dict | None) -> bool:
    if want is None:
        return not rows
    return len(rows) == 1 and rows[0][1] == want


def compare_table(
    check: StateCheck,
    store: str,
    table: str,
    key_cols: tuple[str, ...],
    truth: dict[tuple[str, ...], dict[str, str]],
    found: list[tuple[str, dict]],
) -> None:
    """``found``: (routing key, column map) per live row in one store."""
    by_pk: dict[tuple, list] = defaultdict(list)
    for key, cols in found:
        by_pk[tuple((cols or {}).get(c) for c in key_cols)].append((key, cols))
    bad = 0
    for pk in set(truth) | set(by_pk):
        rows, want = by_pk.get(pk, []), truth.get(pk)
        if _rows_ok(rows, want):
            continue
        bad += 1
        check.mismatched.add((table, pk))
        if len(key_cols) > 1:
            snap_key = f"public.{table}:" + "_".join("" if p is None else p for p in pk)
            if _rows_ok([r for r in rows if r[0] != snap_key], want):
                check.composite_sep.add((table, pk))
    check.by_store[store] = check.by_store.get(store, 0) + bad


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)) or hasattr(v, "dtype"):
        f = float(v)
        return "NULL" if math.isnan(f) else f"{f:.9g}"
    return str(v)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns, same multiset of rows (floats to 9 significant digits)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def rows(df):
        return sorted(tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None))

    return rows(got) == rows(want)
