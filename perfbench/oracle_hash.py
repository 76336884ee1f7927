"""Order-insensitive result hash, with cells rendered as the repository's
correctness check (scripts/oracle_check.py) renders them.

A result is read through pandas exactly as that check reads each side
(engine parquet via pyarrow ``to_pandas``; the DuckDB oracle via ``.df()``),
each cell is rendered to its canonical string, rows are sorted, and the
columns (sorted by name) plus the sorted rows are hashed with SHA-256.
"""
import datetime
import decimal
import hashlib
import math


def render(v):
    """Canonical rendered form of one cell (oracle_check.render)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def col_values(df, c, is_date):
    """Cells of one pandas column, with pandas' missing-value scalars as None
    and DATE columns canonicalised to dates (oracle_check.col_values)."""
    out = []
    for v in df[c].tolist():
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append(None)
        elif v.__class__.__name__ in ("NaTType", "NAType"):
            out.append(None)
        elif is_date and isinstance(v, datetime.datetime):
            out.append(v.date())
        else:
            out.append(v)
    return out


def frame_hash(arrow_table, df):
    """(hash, rows) of a result given as its arrow table and pandas frame."""
    import pyarrow as pa
    cols = sorted(arrow_table.column_names)
    rendered = []
    for c in cols:
        is_date = pa.types.is_date(arrow_table.schema.field(c).type)
        rendered.append([render(v) for v in col_values(df, c, is_date)])
    rows = sorted("\x1f".join(r) for r in zip(*rendered)) if cols else []
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return h.hexdigest(), arrow_table.num_rows


def parquet_hash(path):
    """Hash of an engine result dumped as parquet (Verify's layout)."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    return frame_hash(t, t.to_pandas())
