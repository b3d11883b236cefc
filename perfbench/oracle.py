"""Result oracle: DuckDB over the same files, compared outside the timed span.

Results from both engines are reduced to a canonical form — column names
plus a sorted list of row tuples — and compared row by row.  Floats compare
with a relative tolerance (summation order differs between engines) plus a
per-query absolute tolerance for queries that ROUND their output, where a
value on a rounding boundary may land one unit apart.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

REL_TOL = 1e-9


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _plain(v.tolist())
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, round(v, 3)))
        elif isinstance(v, (int, bool)):
            out.append((1, v))
        elif isinstance(v, (dt.date, dt.datetime)):
            out.append((2, v.isoformat()))
        else:
            out.append((3, str(v)))
    return out


class Result:
    """Canonical result: column names and rows sorted into a fixed order."""

    def __init__(self, columns: list[str], rows):
        self.columns = [c.lower() for c in columns]
        order = sorted(range(len(self.columns)), key=lambda i: self.columns[i])
        self.columns = [self.columns[i] for i in order]
        canon = [tuple(_plain(r[i]) for i in order) for r in rows]
        self.rows = sorted(canon, key=_sort_key)

    @classmethod
    def from_spark(cls, columns: list[str], rows) -> Result:
        return cls(columns, [tuple(r) for r in rows])

    def perturbed(self) -> list[Result]:
        """Deliberately wrong copies: one with a duplicated row, one with a
        numeric value moved by 1% (the self-check requires both caught)."""
        wrong = []
        if self.rows:
            wrong.append(Result(self.columns, self.rows + self.rows[:1]))
        for r, row in enumerate(self.rows):
            for c, v in enumerate(row):
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    moved = list(row)
                    moved[c] = v * 1.01 + 1
                    rows = list(self.rows)
                    rows[r] = tuple(moved)
                    wrong.append(Result(self.columns, rows))
                    return wrong
        return wrong


def _value_equal(a, b, atol: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_value_equal(x, y, atol) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return abs(a - b) <= atol + REL_TOL * max(abs(a), abs(b))
    return a == b


def same(actual: Result, expected: Result, atol: float = 0.0) -> bool:
    if actual.columns != expected.columns or len(actual.rows) != len(expected.rows):
        return False
    return all(
        _value_equal(a, b, atol)
        for ra, rb in zip(actual.rows, expected.rows)
        for a, b in zip(ra, rb)
    )


class DuckOracle:
    """One in-process DuckDB connection with the benchmark's tables as views;
    answers are memoized per query text (inputs never change in a run,
    except the Delta table, whose answers come from a running total)."""

    def __init__(self):
        self.con = duckdb.connect()
        self._memo: dict[str, Result] = {}

    def view(self, name: str, select_sql: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {select_sql}")

    def answer(self, sql: str) -> Result:
        if sql not in self._memo:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._memo[sql] = Result(cols, cur.fetchall())
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
