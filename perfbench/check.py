"""Correctness checks, independent of Spark: DuckDB reads what the program
wrote, and the expectations come from the generator's source rows."""
import glob
import hashlib
import os
from decimal import Decimal

import duckdb


def absent(v):
    return v is None or v.strip() == "" or v.strip().lower() == "nan"


def canon_source(v, typ):
    """Canonical text of a source value once loaded into a column of `typ`."""
    if absent(v):
        return "\\N"
    s = v.strip()
    if typ in ("INTEGER", "BIGINT", "SMALLINT", "TINYINT"):
        return str(int(Decimal(s)))
    if typ.startswith("DECIMAL"):
        return str(Decimal(s).quantize(Decimal("0.0001")))
    if typ.startswith("TIMESTAMP"):
        return s if len(s) > 10 else s + " 00:00:00"
    return v


def canon_stored(v, typ):
    if v is None:
        return "\\N"
    if typ.startswith("DECIMAL"):
        return str(Decimal(v).quantize(Decimal("0.0001")))
    if typ.startswith("TIMESTAMP"):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def row_hash(values):
    return int.from_bytes(hashlib.blake2b("\x1f".join(values).encode(), digest_size=8).digest(),
                          "little")


class Digest:
    """Order-independent multiset digest: row count plus the sum of 64-bit
    row hashes, so rows can be added and removed one at a time."""

    def __init__(self):
        self.n = 0
        self.h = 0

    def add(self, values, sign=1):
        self.n += sign
        self.h = (self.h + sign * row_hash(values)) % (1 << 64)

    def __eq__(self, other):
        return (self.n, self.h) == (other.n, other.h)

    def __repr__(self):
        return f"rows={self.n} hash={self.h:016x}"


def read_table(table_dir):
    """Column name -> DuckDB type, and the rows, of a parquet table dir."""
    files = [f for f in glob.glob(os.path.join(table_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]
    con = duckdb.connect()
    try:
        rel = con.read_parquet(files)
        types = dict(zip(rel.columns, [str(t) for t in rel.types]))
        return types, rel.columns, rel.fetchall()
    finally:
        con.close()


def stored_digest(columns, rows, types):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    d = Digest()
    for r in rows:
        d.add([canon_stored(r[i], types[columns[i]]) for i in order])
    return d


def source_key(columns, row, types):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [canon_source(row[i], types[columns[i]]) for i in order]


def check_table(table_dir, columns, expected_rows):
    """None if the stored table holds exactly `expected_rows`, else why not."""
    types, stored_cols, rows = read_table(table_dir)
    if sorted(stored_cols) != sorted(columns):
        return f"columns {sorted(stored_cols)} != {sorted(columns)}"
    want = Digest()
    for r in expected_rows:
        want.add(source_key(columns, r, types))
    got = stored_digest(stored_cols, rows, types)
    return None if got == want else f"content {got} != expected {want}"


def compare_query(result_dir, oracle_df):
    """Same comparison as tools/compare_oracle.py: columns by name, rows
    sorted by every column, values exact."""
    import numpy as np
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            elif df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result files"
    got = canon(pd.concat([pd.read_parquet(f) for f in files]))
    want = canon(oracle_df)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            return f"dtype of {c}: {g.dtype} != {w.dtype}"
        if pd.api.types.is_float_dtype(g):
            same = np.allclose(g.astype(float), w.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            same = g.equals(w)
        if not same:
            return f"values of {c} differ"
    return None
