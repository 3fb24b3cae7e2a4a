"""The scan ops of ``scan_corpus``: one client of a 4-shard ``ShardedIndex``
of lineitem.

The key is the unique 4-column ``(l_orderkey, l_linenumber, l_partkey,
l_suppkey)``: ``(l_orderkey, l_linenumber)`` repeats in this data (as in
the sf0.1 fixture), and ``ShardedIndex.create`` rejects it with
DUPLICATED_KEYS. Do not shrink or reshape the data to make the 2-column key
unique; the workload is defined on the 4-column key.

Set-up snapshots the bulk load, then commits ``HISTORY`` cross-shard 64-row
batches with ``snapshot()`` after each. The model keeps the base rows sorted
by key with prefix sums of price cents, plus the small batches, so every
answer at every recorded era is computed without a scan.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.loop import Client, Op, Schedule

KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
SHARDS = 4
ROWS_PER_FILE = 50_000
# One history batch, not eight: every cross-shard commit rewrites the
# 50k-row file each touched shard holds (~4-6 s on 4 cores), and the set-up
# has to fit the benchmark's per-run time budget. The bulk load is
# snapshotted too, so as_of still chooses between two eras.
HISTORY = 1
BATCH = 64
WINDOW = 10_000  # order keys per range read (~40k rows)
# ShardedIndex.get_all over composite keys costs ~2.5 s plus ~35 ms per key
# on 4 cores (per-shard read_points builds one OR of per-key equalities;
# 1,000 keys took 38.6 s). 50 keys keep the op inside a run; the per-key
# cost still dominates it.
GET_ALL = 50
IN_ORDER = 1_000


def cents_col():
    from pyspark.sql import functions as F

    return F.round(F.col("l_extendedprice") * 100).cast("long")


def reduce_df(df):
    """count, sum of cents, min key, max key: reduced on the executors."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents_col()).alias("cents"),
        F.min(F.struct(*KEY)).alias("lo"),
        F.max(F.struct(*KEY)).alias("hi"),
    )


class Rows:
    """Key-sorted rows with a prefix sum of cents."""

    def __init__(self, keys: np.ndarray, cents: np.ndarray):
        order = np.lexsort(keys.T[::-1])
        self.keys = keys[order]
        self.cents = cents[order]
        self.prefix = np.concatenate([[0], np.cumsum(self.cents)])

    def window(self, lo: int, hi: int) -> tuple[int, int]:
        ok = self.keys[:, 0]
        return int(np.searchsorted(ok, lo, "left")), int(np.searchsorted(ok, hi, "right"))


class HistoryModel:
    def __init__(self, table: pa.Table):
        keys = np.stack([table.column(c).to_numpy().astype(np.int64) for c in KEY], axis=1)
        cents = np.round(table.column("l_extendedprice").to_numpy() * 100).astype(np.int64)
        self.base = Rows(keys, cents)
        self.batches: list[Rows] = []  # era e = base + batches[:e]

    def add_batch(self, rows: list[dict]) -> None:
        keys = np.array([[r[c] for c in KEY] for r in rows], dtype=np.int64)
        cents = np.array([round(r["l_extendedprice"] * 100) for r in rows], dtype=np.int64)
        self.batches.append(Rows(keys, cents))

    def reduce(self, era: int, lo: int, hi: int) -> tuple:
        n = s = 0
        los, his = [], []
        for part in [self.base, *self.batches[:era]]:
            i, j = part.window(lo, hi)
            if j > i:
                n += j - i
                s += int(part.prefix[j] - part.prefix[i])
                los.append(tuple(part.keys[i].tolist()))
                his.append(tuple(part.keys[j - 1].tolist()))
        return (n, s, min(los), max(his)) if n else (0, None, None, None)

    def ends(self, era: int, k: int) -> tuple[list[tuple], list[tuple]]:
        parts = [self.base, *self.batches[:era]]
        head = sorted(tuple(r) for p in parts for r in p.keys[:k].tolist())[:k]
        tail = sorted((tuple(r) for p in parts for r in p.keys[-k:].tolist()), reverse=True)[:k]
        return head, tail

    def pick(self, era: int, rng: np.random.Generator, k: int) -> list[tuple]:
        """``k`` distinct keys of the era, with their cents."""
        parts = [self.base, *self.batches[:era]]
        sizes = np.array([len(p.keys) for p in parts])
        flat = rng.choice(sizes.sum(), k, replace=False)
        bounds = np.cumsum(sizes)
        out = []
        for f in flat:
            pi = int(np.searchsorted(bounds, f, "right"))
            p = parts[pi]
            i = int(f - (bounds[pi - 1] if pi else 0))
            out.append((*p.keys[i].tolist(), int(p.cents[i])))
        return out


def history_batch(b: int, rng: np.random.Generator) -> list[dict]:
    """64 new rows split over two neighbouring shards' key ranges. Line
    number ``8 + b`` never occurs in the base data (1..7), so every key is
    new and the batch commits without a collision."""
    quarter = datagen.LINEITEM_ORDERS // SHARDS
    rows = []
    for s in (b % SHARDS, (b + 1) % SHARDS):
        anchor = s * quarter + quarter // 2 + int(rng.integers(-1000, 1000))
        for ok in rng.choice(np.arange(anchor, anchor + 200), BATCH // 2, replace=False):
            rows.append({
                "l_orderkey": int(ok), "l_linenumber": 8 + b,
                "l_partkey": int(rng.integers(0, 20_000)), "l_suppkey": int(rng.integers(0, 1_000)),
                "l_quantity": float(rng.integers(1, 51)),
                "l_extendedprice": int(rng.integers(90_000, 10_500_000)) / 100.0,
            })
    return rows


def build(spark, path: str, src: str, model: HistoryModel, rng: np.random.Generator):
    """Bulk-load the sharded index and snapshot it, then commit the history
    batches with a snapshot after each. Returns (index, snapshot timestamps);
    snapshot ``e`` holds era ``e`` (the bulk load plus ``e`` batches)."""
    from index_spark import ShardedIndex
    from index_spark.commands import Insert

    si = ShardedIndex.create(spark, path, KEY, spark.read.parquet(src),
                             n_shards=SHARDS, rows_per_partition=ROWS_PER_FILE)
    stamps = [si.snapshot()]
    for b in range(HISTORY):
        rows = history_batch(b, rng)
        si = si.execute([Insert(rows)])
        stamps.append(si.snapshot())
        model.add_batch(rows)
    return si, stamps


def _cmp(got, want) -> Optional[str]:
    return None if got == want else f"got {str(got)[:200]}, want {str(want)[:200]}"


class HistoryClient(Client):
    """35% window reduce at the head, 20% the same at a recorded snapshot
    via ``as_of``, 15% ``in_order(limit=1000)`` (half reversed), 15%
    ``get_all`` of ``GET_ALL`` keys, 15% whole-table reduce."""

    def __init__(self, si, stamps: list[int], model: HistoryModel, rng: np.random.Generator):
        self.si, self.stamps, self.model, self.rng = si, stamps, model, rng
        self.head = len(stamps) - 1
        self.ends = model.ends(self.head, IN_ORDER)
        self.schedule = Schedule({"range": 7, "asof": 4, "inorder": 3, "getall": 3, "fullagg": 3})

    def _reduce(self, row) -> tuple:
        return (row["n"], row["cents"],
                tuple(row["lo"]) if row["lo"] else None, tuple(row["hi"]) if row["hi"] else None)

    def next_op(self) -> Op:
        rng, m = self.rng, self.model
        kind = self.schedule.next()
        if kind in ("range", "asof"):
            lo = int(rng.integers(0, datagen.LINEITEM_ORDERS - WINDOW))
            hi = lo + WINDOW - 1
            if kind == "range":
                era = self.head
                call = lambda: reduce_df(self.si.range((lo,), (hi,))).collect()  # noqa: E731
            else:
                era = int(rng.integers(0, self.head + 1))
                ts = self.stamps[era]
                call = lambda: reduce_df(self.si.as_of(ts).range((lo,), (hi,))).collect()  # noqa: E731
            return kind, call, lambda rows: _cmp(self._reduce(rows[0]), m.reduce(era, lo, hi))
        if kind == "inorder":
            rev = bool(rng.random() < 0.5)
            want = self.ends[1] if rev else self.ends[0]
            return ("inorder", lambda: self.si.in_order(reverse=rev, limit=IN_ORDER).collect(),
                    lambda rows: _cmp([tuple(r[c] for c in KEY) for r in rows], want))
        if kind == "getall":
            picked = sorted(m.pick(self.head, rng, GET_ALL))
            keys = [p[:4] for p in picked]
            return ("getall", lambda: self.si.get_all(keys).collect(),
                    lambda rows: _cmp([(*(r[c] for c in KEY), round(r["l_extendedprice"] * 100))
                                       for r in rows], picked))
        full = m.reduce(self.head, 0, datagen.LINEITEM_ORDERS)
        return ("fullagg", lambda: reduce_df(self.si.in_order()).collect(),
                lambda rows: _cmp(self._reduce(rows[0]), full))
