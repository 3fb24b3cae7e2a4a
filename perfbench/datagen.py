"""Seeded synthetic inputs. The same seed always yields the same tables.

The shapes follow the TPC-H-like fixtures that ``__spark_entry__.queries()`` use
(``orders`` / ``lineitem`` at sf0.1, ``documents``), generated here so the
benchmark needs nothing outside its checkout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_ROWS = 150_000
# Stored order keys are multiples of KEY_STRIDE, leaving gaps that inserts
# fill: an insert then lands inside an existing file's key range, so a
# commit pays the file-level copy-on-write it would pay on real data.
KEY_STRIDE = 4
LINEITEM_ROWS = 600_000
LINEITEM_ORDERS = 150_000
DOCUMENTS = 5_000

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

_TECH = (
    "spark scan sort merge join hash group filter window stream batch query "
    "table column row key value part line order customer data vector agg "
    "fast slow big small"
).split()
_LANG_WORDS = {
    "en": "the and of to is in that it with for".split(),
    "fr": "le la les et des est une dans pour avec".split(),
    "de": "der die das und ist nicht ein mit auf für".split(),
    "es": "el los las y que es una por con para".split(),
    "zh": "的 数据 查询 表 我们 是 在 和 索引 排序".split(),
}
_LANGS = np.array(["en", "en", "fr", "de", "es", "zh"])


def orders(seed: int, n: int = ORDERS_ROWS) -> pa.Table:
    """``orders``-shaped table keyed by ``o_orderkey = KEY_STRIDE * i``,
    rows in a seeded random order. Prices are whole cents / 100 so sums of
    ``round(price * 100)`` are exact on every engine."""
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(n)
    return pa.table(
        {
            "o_orderkey": pa.array(perm.astype(np.int64) * KEY_STRIDE),
            "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
            "o_totalprice": pa.array(rng.integers(90_000, 50_000_000, n) / 100.0),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    """``lineitem``-shaped table drawn like the sf0.1 fixture: order key,
    line number, part and supplier are independent uniform draws.

    As in that fixture, ``(l_orderkey, l_linenumber)`` is NOT unique: ~457k
    distinct pairs in 600k rows (balls into 1.05M bins), so a store keyed by
    it is rejected with DUPLICATED_KEYS. The unique key is the 4-column
    ``(l_orderkey, l_linenumber, l_partkey, l_suppkey)``; the rare 4-column
    collision is redrawn so that key is unique for every seed."""
    rng = np.random.default_rng([seed, 2])
    ok = rng.integers(0, LINEITEM_ORDERS, n, dtype=np.int64)
    ln = rng.integers(1, 8, n).astype(np.int32)
    pk = rng.integers(0, 20_000, n, dtype=np.int64)
    sk = rng.integers(0, 1_000, n, dtype=np.int64)
    while True:
        packed = ((ok * 8 + ln) * 20_000 + pk) * 1_000 + sk
        _, first = np.unique(packed, return_index=True)
        dup = np.setdiff1d(np.arange(n), first)
        if not len(dup):
            break
        sk[dup] = rng.integers(0, 1_000, len(dup))
    cents = rng.integers(90_000, 10_500_000, n)
    return pa.table(
        {
            "l_orderkey": pa.array(ok),
            "l_linenumber": pa.array(ln),
            "l_partkey": pa.array(pk),
            "l_suppkey": pa.array(sk),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(cents / 100.0),
        }
    )


def documents(seed: int, n: int = DOCUMENTS) -> pa.Table:
    """``documents``-shaped corpus: word salad over a small technical
    vocabulary mixed with per-language function words (so language id and
    stopword ratios vary), occasional punctuation, and ~1% verbatim
    duplicate texts. The corpus queries inject further exact and near
    duplicates on top."""
    rng = np.random.default_rng([seed, 3])
    texts = []
    langs = rng.choice(_LANGS, n)
    for i in range(n):
        if i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n_words = int(rng.integers(8, 96))
        own = _LANG_WORDS[langs[i]]
        words = [
            own[int(rng.integers(len(own)))] if rng.random() < 0.3 else _TECH[int(rng.integers(len(_TECH)))]
            for _ in range(n_words)
        ]
        if rng.random() < 0.2:
            words[int(rng.integers(n_words))] += rng.choice(np.array([",", ".", "!", "?", ";"]))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="zstd")
    return path
