"""``txn_mixed``: one writer and two readers of a ``SnapshotStore`` of orders.

Keys are ``o_orderkey = 4 * i`` for ``i < 150_000``; the model knows every
base row and, per committed store version, the writer's changes on top.
"""

from __future__ import annotations

import collections
import os
import threading
from typing import Any, Optional

import numpy as np
import pyarrow as pa
from index_spark.catalog import read_latest

from perfbench import datagen
from perfbench.loop import Client, Op, Schedule

KEY = "o_orderkey"
VERSION_COL = "__version"
COLS = (KEY, "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority", VERSION_COL)
ROWS_PER_FILE = 10_000
N = datagen.ORDERS_ROWS
S = datagen.KEY_STRIDE
ZIPF_S = 0.99
MANIFEST = "_manifest"  # the SnapshotStore's catalog name


def row_tuple(r) -> tuple:
    return tuple(r[c] for c in COLS)


class Zipf:
    """Zipf(s) ranks over ``n`` items, mapped to items by a seeded shuffle
    so hot keys are spread over every file."""

    def __init__(self, n: int, s: float, seed: int):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.item = np.random.default_rng([seed, 9]).permutation(n)

    def draw(self, rng: np.random.Generator, size: Optional[int] = None):
        return self.item[np.searchsorted(self.cdf, rng.random(size))]


class OrdersModel:
    """Expected store contents per version: the generated base rows plus a
    per-version overlay ``key -> row | None`` of the writer's changes."""

    def __init__(self, table: pa.Table, base_version: str):
        keys = table.column(KEY).to_numpy()
        order = np.argsort(keys)
        cols = {c: table.column(c).to_numpy(zero_copy_only=False)[order] for c in COLS[1:5]}
        self.cust = cols["o_custkey"]
        self.status = cols["o_orderstatus"]
        self.price = cols["o_totalprice"]
        self.prio = cols["o_orderpriority"]
        self.base_version = base_version
        self.overlays: dict[int, dict[int, Optional[tuple]]] = {}
        self._cond = threading.Condition()

    def base_row(self, k: int) -> Optional[tuple]:
        if k % S or not 0 <= k < N * S:
            return None
        i = k // S
        return (k, int(self.cust[i]), str(self.status[i]), float(self.price[i]),
                str(self.prio[i]), self.base_version)

    def register(self, version: int, overlay: dict) -> None:
        with self._cond:
            self.overlays[version] = overlay
            for v in [v for v in self.overlays if v < version - 16]:
                del self.overlays[v]
            self._cond.notify_all()

    def forget(self, version: int) -> None:
        with self._cond:
            self.overlays.pop(version, None)

    def overlay(self, version: int) -> dict:
        with self._cond:
            if not self._cond.wait_for(lambda: version in self.overlays, timeout=30):
                raise KeyError(f"model has no state for store version {version}")
            return self.overlays[version]

    def row(self, ov: dict, k: int) -> Optional[tuple]:
        return ov[k] if k in ov else self.base_row(k)

    def rows_between(self, ov: dict, lo: int, hi: int) -> list[tuple]:
        return [r for k in range(lo, hi + 1) if (r := self.row(ov, k)) is not None]


def orders_table(seed: int) -> tuple[pa.Table, str]:
    t = datagen.orders(seed)
    base_version = f"base-{seed}"
    return t.append_column(VERSION_COL, pa.array([base_version] * t.num_rows)), base_version


def build_store(spark, path: str, src: str):
    from index_spark import SnapshotStore

    store = SnapshotStore(spark, path)
    store.create([KEY], spark.read.parquet(src), rows_per_partition=ROWS_PER_FILE)
    return store


def _expect(rows, want: list[tuple], ordered: bool = True) -> Optional[str]:
    got = [row_tuple(r) for r in rows]
    if not ordered:
        got, want = sorted(got), sorted(want)
    if got != want:
        return f"got {len(got)} rows {got[:2]}..., want {len(want)} rows {want[:2]}..."
    return None


# -------------------------------------------------------------- txn_mixed
def head_version(store_path: str) -> dict:
    """The head version entry of the newest committed manifest.
    ``read_latest`` is bound at import, before the traced run patches the
    catalog module, so this bookkeeping records no catalog spans."""
    return read_latest(store_path, MANIFEST)[0]["versions"][-1]


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class WriteStats:
    def __init__(self) -> None:
        self.rows = 0
        self.bytes = 0
        self.rows_rewritten = 0


class TxnWriter(Client):
    """The store's single writer: 40% insert, 30% update with
    ``__expected_version``, 15% remove, 10% multi-command, 5% invalid
    (each invalid kind must raise its error code and leave the head
    unchanged); ``compact()`` after every ``compact_every`` commits.
    A transaction's rows sit in one 500-key window, so a commit rewrites
    the one or two files that window falls in."""

    SIZES = (1, 8, 64)
    WINDOW = 500

    def __init__(self, store, model: OrdersModel, rng: np.random.Generator, compact_every: int):
        self.store, self.model, self.rng = store, model, rng
        self.compact_every = compact_every
        self.handle = store.latest()
        self.overlay: dict = {}
        model.register(self.handle.version, self.overlay)
        self.n_tx = 0
        self.since_compact = 0
        self.recent: collections.deque = collections.deque(maxlen=10)
        self.recent_lock = threading.Lock()
        self.stats = WriteStats()
        self.schedule = Schedule({"insert": 8, "update": 6, "remove": 3, "multi": 2, "invalid": 1})
        self.pending_invalid: list[int] = []

    # -- key selection inside one window of the key space
    def _window(self) -> range:
        a = int(self.rng.integers(0, N - self.WINDOW)) * S
        return range(a, a + self.WINDOW * S)

    def _present(self, win: range, n: int) -> list[int]:
        ks = [k for k in win if self.model.row(self.overlay, k) is not None]
        return sorted(self.rng.choice(ks, min(n, len(ks)), replace=False).tolist())

    def _absent(self, win: range, n: int) -> list[int]:
        ks = [k for k in win if k % S and self.model.row(self.overlay, k) is None]
        return sorted(self.rng.choice(ks, min(n, len(ks)), replace=False).tolist())

    def _row(self, k: int, version: str) -> tuple:
        r = self.rng
        return (k, int(r.integers(0, 15_000)), str(r.choice(datagen.STATUSES)),
                int(r.integers(90_000, 50_000_000)) / 100.0, str(r.choice(datagen.PRIORITIES)), version)

    @staticmethod
    def _as_dict(t: tuple) -> dict[str, Any]:
        return dict(zip(COLS[:5], t[:5]))

    def recent_keys(self) -> list[int]:
        with self.recent_lock:
            return [k for ks in self.recent for k in ks]

    # -- ops
    def next_op(self) -> Op:
        from index_spark.commands import Insert, Remove, Update

        if self.compact_every and self.since_compact >= self.compact_every:
            self.since_compact = 0
            return self._compact_op()
        self.n_tx += 1
        txid = f"tx{self.n_tx}"
        n = int(self.rng.choice(self.SIZES))
        win = self._window()
        if self.pending_invalid:
            return self._invalid_op(win, n, txid, self.pending_invalid.pop())
        kind = self.schedule.next()
        if kind == "invalid":
            return self._invalid_op(win, n, txid, int(self.rng.integers(0, 3)))
        changes: dict[int, Optional[tuple]] = {}
        cmds = []
        if kind in ("insert", "multi"):
            n_ins = n if kind == "insert" else max(1, n // 3)
            new = [self._row(k, txid) for k in self._absent(win, n_ins)]
            cmds.append(Insert([self._as_dict(t) for t in new]))
            changes.update({t[0]: t for t in new})
        if kind in ("update", "multi"):
            n_up = n if kind == "update" else max(1, n // 3)
            keys = [k for k in self._present(win, n_up + len(changes)) if k not in changes][:n_up]
            rows = []
            for k in keys:
                t = self._row(k, txid)
                rows.append({**self._as_dict(t), "__expected_version": self.model.row(self.overlay, k)[5]})
                changes[k] = t
            cmds.append(Update(rows))
        if kind in ("remove", "multi"):
            n_rm = n if kind == "remove" else max(1, n // 3)
            keys = [k for k in self._present(win, n_rm + len(changes)) if k not in changes][:n_rm]
            cmds.append(Remove([{KEY: k} for k in keys]))
            changes.update({k: None for k in keys})
        return self._commit_op(cmds, changes, txid)

    def _commit_op(self, cmds: list, changes: dict, txid: str) -> Op:
        base = self.handle
        nxt = {**self.overlay, **changes}
        before = {f["path"] for f in head_version(self.store.base_path)["files"]}
        self.model.register(base.version + 1, nxt)

        def call():
            return base.execute(cmds, version=txid)

        def check(h) -> Optional[str]:
            if h.version != base.version + 1:
                self.model.forget(base.version + 1)
                return f"commit made version {h.version}, want {base.version + 1}"
            self.handle, self.overlay = h, nxt
            self.since_compact += 1
            with self.recent_lock:
                self.recent.append(list(changes))
            new = [f for f in head_version(self.store.base_path)["files"]
                   if f["path"] not in before]
            self.stats.rows += len(changes)
            self.stats.rows_rewritten += sum(f["n_rows"] for f in new)
            self.stats.bytes += sum(os.path.getsize(_local(f["path"])) for f in new)
            return None

        return "commit", call, check

    def mid_unit(self) -> bool:
        return bool(self.pending_invalid)

    def reject_each_kind(self) -> None:
        """Queue one invalid transaction of each kind (used in warm-up, so
        every run checks all three rejections even when its measured phase
        is too short to reach the scheduled 1-in-20)."""
        self.pending_invalid = [2, 1, 0]

    def _invalid_op(self, win: range, n: int, txid: str, kind: int) -> Op:
        from index_spark.commands import Insert, Update
        from index_spark.errors import IndexError_

        present = self._present(win, n)
        if kind == 0:  # insert of a key that exists
            rows = [self._as_dict(self._row(k, txid)) for k in self._absent(win, n - 1)]
            rows.append(self._as_dict(self._row(present[0], txid)))
            cmds, want = [Insert(rows)], "DUPLICATED_KEYS"
        elif kind == 1:  # update of a key that does not exist
            rows = [self._as_dict(self._row(k, txid)) for k in present[: n - 1]]
            rows.append(self._as_dict(self._row(self._absent(win, 1)[0], txid)))
            cmds, want = [Update(rows)], "KEY_NOT_FOUND"
        else:  # update with a stale expected version
            rows = [{**self._as_dict(self._row(k, txid)), "__expected_version": "stale"} for k in present]
            cmds, want = [Update(rows)], "VERSION_CHANGED"
        base = self.handle

        def call():
            try:
                base.execute(cmds, version=txid)
            except IndexError_ as e:
                return e.code
            return "committed"

        def check(code) -> Optional[str]:
            if code != want:
                return f"invalid txn returned {code}, want {want}"
            head = head_version(self.store.base_path)["version"]
            if head != base.version:
                return f"rejected txn moved the head {base.version} -> {head}"
            return None

        return "rejected", call, check

    def _compact_op(self) -> Op:
        base = self.handle
        self.model.register(base.version + 1, self.overlay)

        def check(h) -> Optional[str]:
            if h.version == base.version:  # nothing to bin-pack: no new version
                self.model.forget(base.version + 1)
            elif h.version != base.version + 1:
                return f"compaction made version {h.version}, want {base.version + 1}"
            self.handle = h
            return None

        return "compact", lambda: base.compact(), check


class TxnReader(Client):
    """80% point reads of the head (half on keys the writer touched in its
    last 10 commits, half Zipf over the base keys), 20% 100-key ranges.
    A reader keeps reading past the deadline until the writer has stopped,
    so the writer's last commit runs beside readers like every other."""

    def __init__(self, store, model: OrdersModel, zipf: Zipf, writer: TxnWriter, rng):
        self.store, self.model, self.zipf, self.writer, self.rng = store, model, zipf, writer, rng
        self.schedule = Schedule({"point": 4, "range": 1})

    def mid_unit(self) -> bool:
        return super().mid_unit() or self.writer.running

    def next_op(self) -> Op:
        rng, m = self.rng, self.model
        seen: dict = {}

        def read(fn):
            def call():
                h = self.store.latest()
                seen["v"] = h.version
                return fn(h)
            return call

        if self.schedule.next() == "point":
            recent = self.writer.recent_keys()
            if recent and rng.random() < 0.5:
                k = int(recent[int(rng.integers(len(recent)))])
            else:
                k = int(self.zipf.draw(rng)) * S
            return ("point", read(lambda h: h.read_point(k).collect()),
                    lambda rows: _expect(rows, [r] if (r := m.row(m.overlay(seen["v"]), k)) else []))
        i = int(rng.integers(0, N - 100))
        lo, hi = i * S, (i + 99) * S
        return ("range", read(lambda h: h.read_range(lo, hi).collect()),
                lambda rows: _expect(rows, m.rows_between(m.overlay(seen["v"]), lo, hi)))
