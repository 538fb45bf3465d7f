"""Correctness checkers.  A call whose output fails its checker counts as
failed, exactly like a call that raised.

* Registered queries are compared with their DuckDB oracle by the
  repository's own order-insensitive value hash (`tools/check_oracle.py`).
* The MapReduce tasks are compared with in-process references.
* The versioned table is compared with the same DML replayed in DuckDB.
"""

from __future__ import annotations

from collections import Counter

from tools.check_oracle import norm_cell, table_hash


def result_key(rows, cols) -> tuple:
    """What a query result is compared by: row count, column names and
    the value hash."""
    return len(rows), tuple(sorted(cols)), table_hash(rows, list(cols))


def oracle_key(con, sql: str) -> tuple:
    rel = con.sql(sql)
    return result_key(rel.fetchall(), rel.columns)


def same_mapping(got: dict, expected: dict) -> bool:
    """MapReduce outputs: identical keys, values and key order."""
    return list(got.items()) == list(expected.items())


class DuckReplay:
    """The table's expected contents, maintained by replaying each write
    in DuckDB, with one snapshot per committed version."""

    def __init__(self, con, schema_sql: str, key: str, cols: list[str]):
        self.con, self.key, self.cols = con, key, cols
        self.snapshots: dict[int, list[tuple]] = {}
        con.execute("DROP TABLE IF EXISTS t")
        con.execute(f"CREATE TABLE t ({schema_sql})")

    def append(self, rows):
        self.con.register("src", rows)
        self.con.execute("INSERT INTO t SELECT * FROM src")
        self.con.unregister("src")

    def merge(self, rows):
        """Upsert by key: matched rows take every source column, the rest
        are inserted."""
        self.con.register("src", rows)
        sets = ", ".join(f"{c} = src.{c}" for c in self.cols if c != self.key)
        self.con.execute(f"UPDATE t SET {sets} FROM src WHERE t.{self.key} = src.{self.key}")
        self.con.execute(
            f"INSERT INTO t SELECT * FROM src WHERE {self.key} NOT IN (SELECT {self.key} FROM t)"
        )
        self.con.unregister("src")

    def execute(self, sql: str):
        self.con.execute(sql)

    def commit(self, version: int):
        self.snapshots[version] = self.rows()

    def rows(self, where: str = "TRUE") -> list[tuple]:
        return self.con.execute(f"SELECT {', '.join(self.cols)} FROM t WHERE {where}").fetchall()

    def check_read(self, rows, cols, version: int) -> bool:
        return _bag(rows, cols, self.cols) == _bag(self.snapshots[version], self.cols, self.cols)

    def check_scan(self, rows, cols, where_sql: str) -> bool:
        return _bag(rows, cols, self.cols) == _bag(self.rows(where_sql), self.cols, self.cols)

    def check_feed(self, rows, cols, v_from: int, v_to: int) -> bool:
        """Applying the change feed of (v_from, v_to] to the snapshot at
        v_from must give the snapshot at v_to."""
        idx = [list(cols).index(c) for c in self.cols]
        kind = list(cols).index("_change_type")
        state = _bag(self.snapshots[v_from], self.cols, self.cols)
        for r in rows:
            line = "|".join(norm_cell(r[i]) for i in idx)
            if r[kind] in ("insert", "update_postimage"):
                state[line] += 1
            elif r[kind] in ("delete", "update_preimage"):
                state[line] -= 1
            else:
                return False
        if any(n < 0 for n in state.values()):
            return False  # the feed removed a row the table never had
        return +state == _bag(self.snapshots[v_to], self.cols, self.cols)


def _bag(rows, cols, want) -> Counter:
    idx = [list(cols).index(c) for c in want]
    return Counter("|".join(norm_cell(r[i]) for i in idx) for r in rows)
