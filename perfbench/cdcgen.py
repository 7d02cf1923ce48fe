"""Seeded Debezium-JSON change generator and the reference table model.

The generator draws a keyed change history from a seed: a snapshot of
``op='r'`` reads, then changes over Zipf-skewed keys that mix updates,
inserts of new keys, deletes and re-inserts of deleted keys, with a share
of *late* events whose SCN is below one already emitted for their key.
Every SCN is distinct, so the order ``(scn, txid)`` is total.

:class:`Model` is the pure-Python reference: the latest event per key by
``(scn, txid)`` wins and a deleted key is absent. The program under test
only ever sees the envelope files the generator writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

NAMES = ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "panel"]
CREATED_MS = 1_700_000_000_000
SCN_STEP = 10  # normal SCNs are multiples of this; late events fill the gaps
ZIPF_S = 0.9  # skew of the key ranks changes draw from
LATE_SHARE = 0.01  # events below an SCN already emitted for their key
DELETE_SHARE = 0.08  # changes to a live key that delete it
NEW_KEY_SHARE = 0.2  # key space beyond the snapshot: inserts of new keys


@dataclass(frozen=True)
class Event:
    key: int
    op: str  # 'r' snapshot read, 'c' insert, 'u' update, 'd' delete
    scn: int
    image: tuple  # (name, description, price, stock, updated_ms)
    before: tuple | None = None

    @property
    def txid(self) -> str:
        return f"T{self.scn}"


def _row(key: int, img: tuple) -> str:
    name, desc, price, stock, updated = img
    desc = "null" if desc is None else f'"{desc}"'
    return (f'{{"id":{key},"name":"{name}","description":{desc},'
            f'"price":"{price}","stock":{stock},"created_date":{CREATED_MS},'
            f'"updated_date":{updated}}}')


def envelope(ev: Event, ts_ms: int) -> str:
    """One Debezium-JSON envelope line for ``ev`` stamped with ``ts_ms``.

    Generated names and descriptions are plain ASCII words, so the line is
    formatted directly rather than through ``json.dumps``.
    """
    img = _row(ev.key, ev.image)
    before = _row(ev.key, ev.before) if ev.before else "null"
    before, after = (img, "null") if ev.op == "d" else (before, img)
    return (f'{{"before":{before},"after":{after},"op":"{ev.op}","ts_ms":{ts_ms},'
            f'"source":{{"schema":"OLR_DB","table":"PRODUCT","scn":{ev.scn},'
            f'"txId":"{ev.txid}","rowId":"R{ev.key}","ts_ms":{ts_ms}}}}}')


def write_file(path: str, events: list[Event], ts_ms: int) -> None:
    with open(path, "w") as f:
        f.write("\n".join(envelope(e, ts_ms) for e in events) + "\n")


class Generator:
    """Stateful change source: keys ``1..n_keys`` exist after the snapshot;
    changes draw keys from a Zipf-ranked space ``NEW_KEY_SHARE`` larger."""

    def __init__(self, seed: int, n_keys: int, late_share: float = LATE_SHARE):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.late_share = late_share
        space = int(n_keys * (1 + NEW_KEY_SHARE))
        weights = 1.0 / np.arange(1, space + 1) ** ZIPF_S
        self.cdf = np.cumsum(weights / weights.sum())
        # hot ranks land on random keys, not on the lowest ids
        self.rank_key = self.rng.permutation(space) + 1
        self.scn = 1000
        self.latest: dict[int, Event] = {}  # key → latest event emitted
        self.used: set[int] = set()

    def _next_scn(self) -> int:
        self.scn += SCN_STEP
        self.used.add(self.scn)
        return self.scn

    def _images(self, n: int):
        """Draw ``n`` row images at once; ``image(i, scn)`` builds the i-th."""
        r = self.rng
        names = r.integers(len(NAMES), size=n).tolist()
        nums = r.integers(1000, size=n).tolist()
        descs = np.where(r.random(n) < 0.3, -1, r.integers(10**6, size=n)).tolist()
        prices = r.integers(100, 10**7, size=n).tolist()
        stocks = r.integers(0, 500, size=n).tolist()

        def image(i: int, scn: int) -> tuple:
            return (f"{NAMES[names[i]]}-{nums[i]}",
                    None if descs[i] < 0 else f"d{descs[i]}",
                    f"{prices[i] / 100:.2f}", stocks[i], CREATED_MS + scn)

        return image

    def _ranked_keys(self, u) -> list[int]:
        return self.rank_key[np.searchsorted(self.cdf, u)].tolist()

    def snapshot(self) -> list[Event]:
        out = []
        image = self._images(self.n_keys)
        for k in range(1, self.n_keys + 1):
            scn = self._next_scn()
            ev = Event(k, "r", scn, image(k - 1, scn))
            self.latest[k] = ev
            out.append(ev)
        return out

    def changes(self, n: int) -> list[Event]:
        r = self.rng
        keys = self._ranked_keys(r.random(n))
        late_keys = self._ranked_keys(r.random(n))
        late = (r.random(n) < self.late_share).tolist()
        late_gap = r.integers(1, SCN_STEP, size=n).tolist()
        u_op = r.random(n).tolist()
        image = self._images(n)
        out: list[Event] = []
        for i in range(n):
            if late[i]:
                # a late event: below the SCN already emitted for its key
                last = self.latest.get(late_keys[i])
                scn = last.scn - late_gap[i] if last else 0
                if last and scn not in self.used:
                    self.used.add(scn)
                    op = "d" if u_op[i] < 0.3 else "u"
                    out.append(Event(last.key, op, scn, image(i, scn), last.image))
                    continue
            key = keys[i]
            last = self.latest.get(key)
            scn = self._next_scn()
            if last is None or last.op == "d":
                op = "c"  # a new key, or a re-insert of a deleted one
            elif u_op[i] < DELETE_SHARE:
                op = "d"
            else:
                op = "u"
            before = None if op == "c" else last.image
            ev = Event(key, op, scn, last.image if op == "d" else image(i, scn), before)
            self.latest[key] = ev
            out.append(ev)
        return out


def chunk(events: list[Event], size: int) -> list[list[Event]]:
    return [events[i:i + size] for i in range(0, len(events), size)]


def write_files(src_dir: str, files: list[list[Event]], prefix: str,
                ts_ms: int) -> list[str]:
    os.makedirs(src_dir, exist_ok=True)
    paths = []
    for i, evs in enumerate(files):
        p = os.path.join(src_dir, f"{prefix}-{i:05d}.json")
        write_file(p, evs, ts_ms)
        paths.append(p)
    return paths


class Model:
    """Reference table: latest event per key by ``(scn, txid)``; deleted
    keys are absent. Rows use the table's stored columns."""

    def __init__(self):
        self.latest: dict[int, Event] = {}

    def apply(self, events) -> None:
        for ev in events:
            cur = self.latest.get(ev.key)
            if cur is None or (ev.scn, ev.txid) > (cur.scn, cur.txid):
                self.latest[ev.key] = ev

    def rows(self) -> dict[int, tuple]:
        return {k: row_tuple(ev) for k, ev in self.latest.items() if ev.op != "d"}


def row_tuple(ev: Event) -> tuple:
    """The stored-row form the table check compares: every column the
    table exposes, with price as its 2-decimal string and dates in ms."""
    name, desc, price, stock, updated = ev.image
    return (ev.key, name, desc, price, stock, CREATED_MS, updated, ev.scn)
