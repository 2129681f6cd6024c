"""Output checks against each query's DuckDB oracle.

A query's Spark result and its ``QuerySpec.oracle`` result over the same
generated parquet files must have the same column names, the same row
count and the same rows as a multiset. Cells keep their type name, so an
integer column never matches a double one; doubles match within a
relative 1e-9, because DuckDB's decimal-to-double cast can differ from
Spark's in the last bit and a digest that rounds to fixed digits splits
such a pair whenever the value sits next to a rounding boundary.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

_REL = 1e-9


def _coarse(v) -> str:
    """Type-tagged cell with doubles cut to 6 significant digits: the
    sort key that lines equal rows up across engines."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "float:NaN" if math.isnan(v) else f"float:{v:.6g}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, (list, tuple)):
        return "list:[" + ",".join(_coarse(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=_REL, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows re-ordered to match, then sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = [tuple(r[i] for i in order) for r in rows]
    keyed.sort(key=lambda r: (tuple(_coarse(c) for c in r), repr(r)))
    return [columns[i] for i in order], keyed


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Short order-insensitive digest of the coarse cells (diagnostics)."""
    cols, ordered = canonical(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in ordered:
        h.update(repr(tuple(_coarse(c) for c in r)).encode())
    return h.hexdigest()[:12]


def compare(got_cols, got_rows, exp_cols, exp_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != oracle {len(exp_rows)}"
    _, a = canonical(list(got_cols), got_rows)
    _, b = canonical(list(exp_cols), exp_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if not all(_same(p, q) for p, q in zip(x, y)):
            return (f"value digest {digest(got_cols, got_rows)} != oracle "
                    f"{digest(exp_cols, exp_rows)} (first differing row {i})")
    return None


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, table_paths: dict[str, str], threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for name, path in table_paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def check(self, df, sql: str) -> str | None:
        """Collect ``df`` and compare it with ``sql``'s result."""
        got = [tuple(r) for r in df.collect()]
        res = self.con.execute(sql)
        exp_cols = [d[0] for d in res.description]
        return compare(list(df.columns), got, exp_cols, [tuple(r) for r in res.fetchall()])

    def close(self) -> None:
        self.con.close()
