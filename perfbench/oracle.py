"""DuckDB oracle: the expected answer of every operation, and the
comparison of a streamed result against it."""

from __future__ import annotations

import decimal
import json
import math
import os

import duckdb

from miso_spark.catalog import TABLES

#: relative tolerance for float columns the oracle does not round:
#: sums over the same rows in a different order differ in the last bits
FLOAT_REL_TOL = 1e-9


class Oracle:
    def __init__(self, sf_dir: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(tmp_dir, 'duckdb')}'")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self._cache:
            res = self.con.execute(sql)
            self._cache[sql] = ([d[0] for d in res.description], res.fetchall())
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def _num(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _sort_key(row: tuple, digits: list[int | None]) -> tuple:
    """Exact columns first, then floats at the precision they are
    compared at, so rows pair up even where the two sides' floats differ
    in the last digits."""
    exact = [(v is None, str(v)) for v in row if not isinstance(v, float)]
    floats = [round(v, 6 if d is None else d) for v, d in zip(row, digits)
              if isinstance(v, float)]
    return (exact, floats)


def _same(a, b, digits: int | None) -> bool:
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if digits is not None:
            # the oracle rounds this column and the server does not
            return abs(a - b) <= 0.5 * 10.0 ** -digits + 1e-9 * abs(b)
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
            return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=1e-9)
        return a == b
    return a == b


def compare(
    got_cols: list[str],
    got_rows: list[tuple],
    want_cols: list[str],
    want_rows: list[tuple],
    rounding: dict[str, int] | None = None,
) -> str | None:
    """None when the row multisets agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    cols = sorted(want_cols)
    gi = [got_cols.index(c) for c in cols]
    wi = [want_cols.index(c) for c in cols]
    digits = [(rounding or {}).get(c) for c in cols]
    got = sorted((tuple(_num(r[i]) for i in gi) for r in got_rows),
                 key=lambda r: _sort_key(r, digits))
    want = sorted((tuple(_num(r[i]) for i in wi) for r in want_rows),
                  key=lambda r: _sort_key(r, digits))
    for g, w in zip(got, want):
        for c, a, b, d in zip(cols, g, w, digits):
            if not _same(a, b, d):
                return f"column {c}: {a!r} != {b!r}"
    return None


def json_rows(frames: list[bytes], want_cols: list[str]) -> tuple[list[str], list[tuple]]:
    """Rows of an SSE result (one JSON object per frame). Spark's JSON
    writer drops null fields, so absent oracle columns read as None."""
    objs = json.loads(b"[" + b",".join(frames) + b"]") if frames else []
    cols = list(want_cols)
    for o in objs:
        for k in o:
            if k not in cols:
                cols.append(k)
    return cols, [tuple(o.get(c) for c in cols) for o in objs]
