"""Expected table contents, kept beside the engine's.

Rows are held as pandas frames in a canonical form that both sides can
produce exactly: DATE as days since 1970-01-01, TIMESTAMP as epoch
microseconds, DECIMAL(10,2) as integer cents, everything else as is.
``canonical_exprs`` projects an engine DataFrame into the same form.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench.lake import decimal_cents

_EPOCH = dt.datetime(1970, 1, 1)


def _ddl_types(ddl: str) -> list[tuple[str, str]]:
    out = []
    for part in ddl.split(", "):
        name, typ = part.strip().split(" ", 1)
        out.append((name, typ.upper()))
    return out


def canonical_exprs(ddl: str) -> list[str]:
    exprs = []
    for name, typ in _ddl_types(ddl):
        if typ == "DATE":
            exprs.append(f"datediff({name}, DATE'1970-01-01') AS {name}")
        elif typ == "TIMESTAMP":
            exprs.append(f"unix_micros({name}) AS {name}")
        elif typ.startswith("DECIMAL"):
            exprs.append(f"CAST({name} * 100 AS BIGINT) AS {name}")
        else:
            exprs.append(name)
    return exprs


def from_arrow(table: pa.Table) -> pd.DataFrame:
    cols = {}
    for f in table.schema:
        a = table[f.name]
        if pa.types.is_date32(f.type):
            cols[f.name] = a.cast(pa.int32()).to_numpy().astype(np.int64)
        elif pa.types.is_timestamp(f.type):
            cols[f.name] = a.cast(pa.int64()).to_numpy()
        elif pa.types.is_decimal(f.type):
            cols[f.name] = np.round(a.cast(pa.float64()).to_numpy() * 100).astype(np.int64)
        elif pa.types.is_integer(f.type):
            cols[f.name] = a.to_numpy().astype(np.int64)
        else:
            cols[f.name] = a.to_numpy(zero_copy_only=False).astype(object)
    return pd.DataFrame(cols)


def to_arrow(frame: pd.DataFrame, ddl: str) -> pa.Table:
    """The declared-type Arrow table for canonical rows (its ``nbytes``
    is the in-memory size of the user rows)."""
    arrays = {}
    for name, typ in _ddl_types(ddl):
        v = frame[name].to_numpy()
        if typ == "DATE":
            arrays[name] = pa.array(v.astype(np.int32), pa.date32())
        elif typ == "TIMESTAMP":
            arrays[name] = pa.array(v.astype(np.int64), pa.timestamp("us"))
        elif typ.startswith("DECIMAL"):
            arrays[name] = decimal_cents(v.astype(np.int64))
        elif typ == "BIGINT":
            arrays[name] = pa.array(v.astype(np.int64))
        else:
            arrays[name] = pa.array(v.astype(object), pa.string())
    return pa.table(arrays)


def rows_to_arrow(rows, ddl: str) -> pa.Table:
    """Python row tuples (dates, datetimes, Decimals) as an Arrow table
    of the declared types."""
    arrow_types = {"DATE": pa.date32(), "TIMESTAMP": pa.timestamp("us"),
                   "BIGINT": pa.int64(), "STRING": pa.string()}
    columns = {}
    for i, (name, typ) in enumerate(_ddl_types(ddl)):
        t = pa.decimal128(10, 2) if typ.startswith("DECIMAL") else arrow_types[typ]
        columns[name] = pa.array([r[i] for r in rows], t)
    return pa.table(columns)


def literal(typ: str, v) -> str:
    if typ == "DATE":
        return f"DATE'{(_EPOCH + dt.timedelta(days=int(v))).date().isoformat()}'"
    if typ == "TIMESTAMP":
        ts = _EPOCH + dt.timedelta(microseconds=int(v))
        return f"TIMESTAMP'{ts.isoformat(sep=' ')}'"
    if typ.startswith("DECIMAL"):
        c = int(v)
        return f"CAST({c // 100}.{c % 100:02d} AS {typ})"
    if typ == "BIGINT":
        return str(int(v))
    return "'" + str(v).replace("'", "''") + "'"


def values_sql(frame: pd.DataFrame, ddl: str) -> str:
    """``(…), (…)`` rows for INSERT INTO … VALUES."""
    types = _ddl_types(ddl)
    return ", ".join(
        "(" + ", ".join(literal(t, row[n]) for n, t in types) + ")"
        for row in frame.to_dict("records")
    )


def select_sql(frame: pd.DataFrame, ddl: str) -> str:
    """The rows as a UNION ALL of one-row SELECTs with named columns."""
    types = _ddl_types(ddl)
    return " UNION ALL ".join(
        "SELECT " + ", ".join(f"{literal(t, row[n])} AS {n}" for n, t in types)
        for row in frame.to_dict("records")
    )


def diff(got: pd.DataFrame, exp: pd.DataFrame, key: str) -> str | None:
    """None when both frames hold the same rows (any order), else a
    short description of the first difference."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    g = got.sort_values(key, kind="stable").reset_index(drop=True)
    e = exp.sort_values(key, kind="stable").reset_index(drop=True)
    for c in exp.columns:
        a, b = g[c].to_numpy(), e[c].to_numpy()
        if b.dtype == object:
            a, b = a.astype(str), b.astype(str)
        else:
            a = a.astype(np.int64)
        bad = np.flatnonzero(a != b)
        if len(bad):
            i = bad[0]
            return f"{c} at {key}={e[key][i]}: {a[i]!r} != {b[i]!r} ({len(bad)} rows differ)"
    return None
