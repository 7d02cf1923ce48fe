"""Self-tests for the output checks: each planted fault must be rejected.

Run on its own with ``python3 perfbench/selftest.py``; ``run.py`` also runs
these before every benchmark run, so a check that has gone blind stops the
benchmark instead of passing it.
"""

from __future__ import annotations

import sys

import checks
import cdcgen


def _table_faults() -> list[str]:
    g = cdcgen.Generator(seed=11, n_keys=300, late_share=0.05)
    events = g.snapshot() + g.changes(3000)
    model = cdcgen.Model()
    model.apply(events)
    expected = model.rows()
    cols = list(checks.TABLE_COLUMNS)

    def table(rows: dict[int, tuple]) -> list[tuple]:
        return [r + (None,) for r in rows.values()]

    failures = []
    if checks.check_table(cols, table(expected), expected):
        failures.append("table check rejects the correct table")

    deleted = next(k for k, e in model.latest.items() if e.op == "d")
    before = [e for e in events if e.key == deleted and e.op != "d"][-1]
    planted = dict(expected)
    planted[deleted] = cdcgen.row_tuple(before)  # the delete never applied
    if not checks.check_table(cols, table(planted), expected):
        failures.append("table check accepts a table missing one delete")

    late = next(e for e in events if e.op == "u" and e.scn % cdcgen.SCN_STEP
                and model.latest[e.key].op != "d")
    planted = dict(expected)
    planted[late.key] = cdcgen.row_tuple(late)  # the late event won
    if not checks.check_table(cols, table(planted), expected):
        failures.append("table check accepts a late event that wins")

    key = next(k for k in expected
               if sum(e.key == k and e.op in "cur" for e in events) > 1)
    stale = [e for e in events if e.key == key and e.op in "cur"
             and e.scn < model.latest[key].scn][-1]
    planted = dict(expected)
    planted[key] = cdcgen.row_tuple(stale)  # an older update survived
    if not checks.check_table(cols, table(planted), expected):
        failures.append("table check accepts a stale update")
    return failures


def _lookup_faults() -> list[str]:
    g = cdcgen.Generator(seed=12, n_keys=50)
    hist = checks.History()
    snap = g.snapshot()
    hist.emit(snap, 1.0)
    updates = [e for e in g.changes(400) if e.op == "u" and e.scn % cdcgen.SCN_STEP == 0]
    key = updates[0].key
    hist.emit(updates, 2.0)
    old = next(e for e in snap if e.key == key)
    new = hist.states[key][-1][1]
    failures = []
    good = [checks.Lookup(key, cdcgen.row_tuple(old), 1.5),
            checks.Lookup(key, new, 2.5)]
    if checks.check_lookups(hist, good):
        failures.append("lookup check rejects a monotonic history")
    backwards = [checks.Lookup(key, new, 2.5),
                 checks.Lookup(key, cdcgen.row_tuple(old), 3.0)]
    if not checks.check_lookups(hist, backwards):
        failures.append("lookup check accepts a lookup older than an earlier one")
    early = [checks.Lookup(key, new, 1.5)]
    if not checks.check_lookups(hist, early):
        failures.append("lookup check accepts a state emitted after the lookup")
    return failures


def _query_faults() -> list[str]:
    import pandas as pd

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    failures = []
    if checks.check_query("q", oracle.iloc[::-1].reset_index(drop=True), oracle):
        failures.append("query check rejects a reordered, equal result")
    perturbed = oracle.copy()
    perturbed.loc[1, "v"] = 1.2500001
    if not checks.check_query("q", perturbed, oracle):
        failures.append("query check accepts a perturbed result")
    return failures


def run() -> list[str]:
    return _table_faults() + _lookup_faults() + _query_faults()


if __name__ == "__main__":
    bad = run()
    for b in bad:
        print("FAIL:", b)
    print("selftest:", "failed" if bad else "ok")
    sys.exit(1 if bad else 0)
