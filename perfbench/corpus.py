"""The corpus queries of ``scan_corpus``: passes of four
``__spark_entry__.queries()`` over a generated ``documents`` table, each
answer checked against the repo's own DuckDB oracle SQL, evaluated once
before the session starts.

``minhash_lsh_pairs`` is left out: ``near_dedup_survivors`` runs the same
``minhash_near_dup_pairs`` candidate-and-verify stage (``minhash_dedup`` is
built on it) and then removes the losers, so the pair query adds time to
every run and no code path."""

from __future__ import annotations

import datetime
from typing import Any, Optional

from perfbench.loop import Client, Op

QUERIES = ("pipeline_end_to_end", "near_dedup_survivors", "text_quality", "lang_id")


def canon_cell(v: Any) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def canon(columns: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        tuple(columns[i] for i in order),
        tuple(sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)),
    )


def oracle_answers(data_dir: str) -> dict[str, tuple]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/documents.parquet'")
        out = {}
        for q in QUERIES:
            cur = con.execute(sql[q])
            rows = cur.fetchall()
            out[q] = canon([d[0] for d in cur.description], rows)
        return out
    finally:
        con.close()


class CorpusClient(Client):
    """Whole passes over the queries, always in the order of ``QUERIES``: on
    a cold session the first query pays the Python-worker start, so a
    seeded order would move that cost from kind to kind between runs."""

    def __init__(self, spark, data_dir: str, oracle: dict[str, tuple]):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.oracle = spark, data_dir, oracle
        self.queries = entry.queries()
        self.todo: list[str] = []
        self.fresh = True  # no pass started in this phase yet

    def restart(self) -> None:
        self.fresh = True

    def mid_unit(self) -> bool:
        return self.fresh or bool(self.todo)

    def next_op(self) -> Op:
        if not self.todo:
            self.todo = list(reversed(QUERIES))
        self.fresh = False
        q = self.todo.pop()

        def check(rows) -> Optional[str]:
            got = canon(list(rows[0].__fields__) if rows else list(self.oracle[q][0]), [tuple(r) for r in rows])
            if got != self.oracle[q]:
                return f"{q}: {len(got[1])} rows differ from the oracle's {len(self.oracle[q][1])}"
            return None

        return q, lambda: self.queries[q](self.spark, self.data_dir).collect(), check
