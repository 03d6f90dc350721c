"""Output checks against DuckDB over the same generated files.

Nothing here runs inside a timed window. Registry ops are compared with
their `oracle_sql()` result; the oracle side is computed once per generated
lake and kept as a canonical digest. The comparison follows the engine's
test contract: sorted column names, row count and exact values after
sorting rows, with dtype differences between the engines normalised away
(ints of any width compare equal, integral floats equal their ints,
timestamps compare as naive UTC).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from lake import TABLES


def _canon(v: Any) -> Any:
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return repr(v)
    if isinstance(v, dt.datetime):  # also pandas Timestamp
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (int, str)):
        return v
    return str(v)


def canonical(frame: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, rows as canonical JSON strings, sorted)."""
    cols = sorted(frame.columns)
    rows = [
        json.dumps([_canon(v) for v in rec], separators=(",", ":"))
        for rec in frame[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def digest(cols: list[str], rows: list[str]) -> str:
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB views over one lake, plus cached oracle results."""

    def __init__(self, lake_dir: str, threads: int) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for name in TABLES:
            path = os.path.join(lake_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self._expected: dict[str, tuple[list[str], list[str], str]] = {}

    def close(self) -> None:
        self.con.close()

    def prepare(self, key: str, sql: str) -> None:
        cols, rows = canonical(self.con.execute(sql).fetchdf())
        self._expected[key] = (cols, rows, digest(cols, rows))

    def compare(self, key: str, frame: pd.DataFrame) -> str | None:
        """None when `frame` equals the oracle result for `key`, else why not."""
        cols, rows, want = self._expected[key]
        got_cols, got_rows = canonical(frame)
        if digest(got_cols, got_rows) == want:
            return None
        if got_cols != cols:
            return f"columns {got_cols} != oracle {cols}"
        if len(got_rows) != len(rows):
            return f"{len(got_rows)} rows != oracle {len(rows)}"
        for i, (a, b) in enumerate(zip(got_rows, rows)):
            if a != b:
                return f"sorted row {i}: {a[:200]} != oracle {b[:200]}"
        return "digest mismatch"

    # ---------------------------------------------------------- documents

    def table_facts(self) -> dict[str, dict[str, Any]]:
        """Per table: row count, column names in order, NULLs per column."""
        out = {}
        for name in TABLES:
            cols = [r[0] for r in self.con.execute(f"DESCRIBE {name}").fetchall()]
            exprs = ", ".join(f'COUNT(*) - COUNT("{c}")' for c in cols)
            res = self.con.execute(f"SELECT COUNT(*), {exprs} FROM {name}").fetchone()
            out[name] = {
                "rows": int(res[0]),
                "columns": cols,
                "nulls": {c: int(n) for c, n in zip(cols, res[1:]) if n},
            }
        return out


def check_document(doc: dict, facts: dict[str, dict[str, Any]], problems: list[str]) -> list[str]:
    """Problems with a collected schema document: `problems` from
    `validate_schema_doc`, plus row counts, column lists and quality NULL
    counts that differ from DuckDB's."""
    out = [f"validate_schema_doc: {p}" for p in problems]
    tables = {t["name"]: t for t in doc.get("tables", [])}
    if sorted(tables) != sorted(facts):
        out.append(f"tables {sorted(tables)} != {sorted(facts)}")
    quality = {m["table_name"]: m for m in doc.get("quality_metrics") or []}
    for name, want in facts.items():
        t = tables.get(name)
        if t is None:
            continue
        if t.get("row_count") != want["rows"]:
            out.append(f"{name}: row_count {t.get('row_count')} != {want['rows']}")
        cols = [c["name"] for c in t.get("columns", [])]
        if cols != want["columns"]:
            out.append(f"{name}: columns {cols} != {want['columns']}")
        q = quality.get(name)
        if q is None:
            out.append(f"{name}: no quality metrics")
            continue
        if q.get("analyzed_rows") != want["rows"]:
            out.append(f"{name}: analyzed_rows {q.get('analyzed_rows')} != {want['rows']}")
        nulls = {
            c["column_name"]: c["null_count"]
            for c in q.get("completeness", {}).get("null_columns", [])
        }
        if nulls != want["nulls"]:
            out.append(f"{name}: null counts {nulls} != {want['nulls']}")
    samples = doc.get("samples") or []
    if sorted(s["table_name"] for s in samples) != sorted(facts):
        out.append("samples do not cover every table")
    return out
