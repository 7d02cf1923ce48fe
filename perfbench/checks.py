"""Output checks, computed apart from the program under test.

Each check returns a list of human-readable problems; an empty list means
the output passed. They run outside every timed region.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field

from cdcgen import Event, row_tuple

#: columns the upsert table exposes to readers, in ``row_tuple`` order
#: (``_ssn`` is always NULL on this wire and is checked separately)
TABLE_COLUMNS = ("id", "name", "description", "price", "stock",
                 "created_date", "updated_date", "_scn", "_ssn")


def check_table(columns: list[str], rows: list[tuple],
                expected: dict[int, tuple]) -> list[str]:
    """The final table must equal the model row for row, column for column.

    ``rows`` are ``row_tuple``-shaped tuples followed by ``_ssn``.
    """
    problems = []
    if sorted(columns) != sorted(TABLE_COLUMNS):
        problems.append(f"columns {sorted(columns)} != {sorted(TABLE_COLUMNS)}")
    got: dict[int, tuple] = {}
    for r in rows:
        if r[-1] is not None:
            problems.append(f"key {r[0]}: _ssn {r[-1]!r}, expected NULL")
        if r[0] in got:
            problems.append(f"key {r[0]}: duplicate row")
        got[r[0]] = tuple(r[:-1])
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [k for k in expected.keys() & got.keys() if got[k] != expected[k]]
    for label, keys in (("missing", missing), ("unexpected", extra), ("stale", wrong)):
        if keys:
            k = min(keys)
            problems.append(
                f"{len(keys)} {label} keys, e.g. {k}: "
                f"table={got.get(k)!r} model={expected.get(k)!r}"
            )
    return problems


@dataclass
class History:
    """Per-key states in the order they were held, with emit times.

    A state is ``(scn, row_tuple or None, emitted_at)``; ``None`` is
    absence (before the first insert, or after a delete). A late event
    that loses to the key's current state is never held.
    """

    states: dict[int, list[tuple[int, tuple | None, float]]] = field(
        default_factory=dict)

    def emit(self, events: list[Event], emitted_at: float) -> None:
        for ev in events:
            held = self.states.setdefault(ev.key, [(0, None, 0.0)])
            if ev.scn > held[-1][0]:
                row = None if ev.op == "d" else row_tuple(ev)
                held.append((ev.scn, row, emitted_at))


@dataclass
class Lookup:
    key: int
    row: tuple | None  # row_tuple-shaped, or None when the key was absent
    completed_at: float


def check_lookups(history: History, lookups: list[Lookup],
                  floors: dict[int, int] | None = None) -> list[str]:
    """Each lookup returns a state its key held, emitted before the lookup
    completed, and never older (by ``_scn``) than an earlier lookup's.
    ``floors`` gives, per key, the ``_scn`` of a state committed before the
    first lookup started; no lookup may return anything older."""
    problems = []
    last_scn: dict[int, int] = dict(floors or {})
    for i, lk in enumerate(lookups):
        held = history.states.get(lk.key, [(0, None, 0.0)])
        floor = last_scn.get(lk.key, 0)
        if lk.row is not None:
            match = [s for s in held if s[1] == lk.row]
            if not match:
                problems.append(f"lookup {i} key {lk.key}: {lk.row!r} never held")
                continue
            scn, _, emitted = match[0]
            if emitted > lk.completed_at:
                problems.append(f"lookup {i} key {lk.key}: state emitted after it")
                continue
        else:
            # absence may be pre-history or any delete not older than the
            # last state seen: take the oldest such, the most lenient floor
            scns = [s[0] for s in held
                    if s[1] is None and s[2] <= lk.completed_at]
            j = bisect.bisect_left(sorted(scns), floor)
            if j == len(scns):
                problems.append(f"lookup {i} key {lk.key}: absent, but no "
                                f"absent state at or after scn {floor}")
                continue
            scn = sorted(scns)[j]
        if scn < floor:
            problems.append(f"lookup {i} key {lk.key}: scn {scn} older than "
                            f"an earlier lookup's {floor}")
            continue
        last_scn[lk.key] = scn
    return problems


def _canon(v):
    """One comparable Python value per cell, whichever engine made it."""
    import datetime
    import decimal
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**63:
        return int(v)  # 2932.0 and 2932 sort and compare alike
    if isinstance(v, (datetime.date, pd.Timestamp)):
        return pd.Timestamp(v).value  # ns since epoch, dates at midnight
    return v


def frame_rows(df) -> tuple[list[str], list[tuple]]:
    """Column names sorted, and rows in that column order, sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def check_query(name: str, result, oracle) -> list[str]:
    """A sweep result must match its DuckDB oracle frame exactly, as an
    unordered multiset of rows over the same column names."""
    cols_a, rows_a = frame_rows(result)
    cols_b, rows_b = frame_rows(oracle)
    if cols_a != cols_b:
        return [f"{name}: columns {cols_a} != oracle {cols_b}"]
    if len(rows_a) != len(rows_b):
        return [f"{name}: {len(rows_a)} rows != oracle {len(rows_b)}"]
    for i, (a, b) in enumerate(zip(rows_a, rows_b)):
        if a != b:
            return [f"{name}: row {i} {a!r} != oracle {b!r}"]
    return []
