"""Seeded input generator for the loader benchmark.

Every input is derived from the read-only TPC-H-style parquet tables in the
test-data directory and a seed; nothing is downloaded. Files are written in
the formats the loader ingests (CSV, PSV, JSON as an array of records, as in
the reference fixtures), and each file comes with the facts the checks need:
its source rows as strings and the ledger counts it must produce.
"""
import json
import os
import random

import duckdb

# value kinds: how a parquet value is rendered into a text file
INT, DEC, DATE, STR = "int", "dec", "date", "str"

LINEITEM = [("l_orderkey", INT), ("l_partkey", INT), ("l_suppkey", INT),
            ("l_linenumber", INT), ("l_quantity", DEC), ("l_extendedprice", DEC),
            ("l_discount", DEC), ("l_tax", DEC), ("l_returnflag", STR),
            ("l_linestatus", STR), ("l_shipdate", DATE)]
ORDERS = [("o_orderkey", INT), ("o_custkey", INT), ("o_orderstatus", STR),
          ("o_totalprice", DEC), ("o_orderdate", DATE), ("o_orderpriority", STR)]

# mixed_dir_batch: target table -> (source table, columns, NOT NULL column)
MIXED_TABLES = {
    "orders": ("orders", ORDERS, "o_custkey"),
    "customer": ("customer", [("c_custkey", INT), ("c_name", STR), ("c_nationkey", INT),
                              ("c_acctbal", DEC), ("c_mktsegment", STR)], "c_name"),
    "part": ("part", [("p_partkey", INT), ("p_name", STR), ("p_brand", STR),
                      ("p_type", STR), ("p_size", INT), ("p_retailprice", DEC)], "p_name"),
    "supplier": ("supplier", [("s_suppkey", INT), ("s_name", STR), ("s_nationkey", INT),
                              ("s_acctbal", DEC)], "s_name"),
    "lineitem": ("lineitem", LINEITEM, "l_partkey"),
    "shipments": ("lineitem", [("l_orderkey", INT), ("l_linenumber", INT),
                               ("l_shipdate", DATE), ("l_returnflag", STR),
                               ("l_linestatus", STR)], "l_shipdate"),
}
FORMATS = ["csv", "psv", "json"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def render(v, kind):
    if v is None:
        return None
    if kind == INT:
        return str(int(v))
    if kind == DEC:
        return f"{v:.2f}"
    if kind == DATE:
        return v.strftime("%Y-%m-%d")
    return str(v)


def fetch(testdata, sf, table, cols, limit, seed):
    """`limit` rows of a test-data table in a seeded random order."""
    con = duckdb.connect()
    path = os.path.join(testdata, sf, f"{table}.parquet")
    q = (f"SELECT {', '.join(c for c, _ in cols)} FROM read_parquet('{path}') t "
         f"ORDER BY hash(t, {int(seed)}) LIMIT {int(limit)}")
    rows = con.execute(q).fetchall()
    con.close()
    return [tuple(render(v, k) for v, (_, k) in zip(r, cols)) for r in rows]


def write_file(path, cols, rows, fmt):
    """One input file; None is an absent value (empty field / JSON null)."""
    names = [c for c, _ in cols]
    with open(path, "w", encoding="utf-8") as f:
        if fmt in ("csv", "psv"):
            sep = "," if fmt == "csv" else "|"
            f.write(sep.join(names) + "\n")
            for r in rows:
                f.write(sep.join("" if v is None else v for v in r) + "\n")
        else:
            def lit(v, kind):
                if v is None:
                    return "null"
                return v if kind in (INT, DEC) else json.dumps(v)
            recs = ["  {" + ", ".join(f'"{c}": {lit(v, k)}' for v, (c, k) in zip(r, cols)) + "}"
                    for r in rows]
            f.write("[\n" + ",\n".join(recs) + "\n]\n")
    return os.path.getsize(path)


def file_input(path, table, cols, rows, fmt, counts):
    return {"file": os.path.basename(path), "path": path, "table": table,
            "columns": [c for c, _ in cols], "rows": rows,
            "bytes": write_file(path, cols, rows, fmt), "ledger": counts}


def csv_wide_file(testdata, out, seed, rows):
    """One sf0.01 lineitem CSV (11 columns), rows in seeded order."""
    src = fetch(testdata, "sf0.01", "lineitem", LINEITEM, rows, seed)
    n = len(src)
    f = file_input(os.path.join(out, "lineitem_wide.csv"), "lineitem_wide", LINEITEM, src,
                   "csv", {"status": "Completed", "read": n, "inserted": n,
                           "updated": 0, "failed": 0})
    return {"inputs": [f]}


def mixed_dir_batch(testdata, out, seed, files_per_table, min_rows, max_rows, max_bad):
    """Small CSV/PSV/JSON files over six target tables with `_NNN` stems;
    some files carry NOT NULL violations within the error budget."""
    rng = random.Random(seed)
    inputs = []
    os.makedirs(out, exist_ok=True)
    n_files = files_per_table * len(MIXED_TABLES)
    formats = (FORMATS * -(-n_files // len(FORMATS)))[:n_files]
    rng.shuffle(formats)
    for t, (src_table, cols, not_null) in sorted(MIXED_TABLES.items()):
        pool = fetch(testdata, "sf0.1", src_table, cols, files_per_table * max_rows, seed)
        nn = [c for c, _ in cols].index(not_null)
        at = 0
        for i in range(files_per_table):
            n = rng.randint(min_rows, min(max_rows, len(pool) // files_per_table))
            rows = [list(r) for r in pool[at:at + n]]
            at += n
            bad = rng.randint(1, max_bad) if rng.random() < 0.5 else 0
            for j in rng.sample(range(n), bad):
                rows[j][nn] = None
            fmt = formats[len(inputs)]
            path = os.path.join(out, f"{t}_{i + 1:03d}.{fmt}")
            counts = {"status": "CompletedWithErrors" if bad else "Completed",
                      "read": n, "inserted": n - bad, "updated": 0, "failed": bad}
            inputs.append(file_input(path, t, cols, [tuple(r) for r in rows], fmt, counts))
    return {"inputs": inputs, "not_null": {t: [v[2]] for t, v in MIXED_TABLES.items()}}


def upsert_delta(testdata, out, seed, sf, base_rows, deltas, delta_rows, dup_rows, max_bad):
    """`base_rows` rows of the orders table of scale `sf` as the base load,
    then a seeded sequence of CSV deltas: about half updates of existing keys
    and half new keys, plus in-file duplicate keys (last wins) and a few NOT
    NULL violations. The expected ledger counts follow the invariant
    read = inserted + updated (distinct keys) + duplicates dropped + failed."""
    rng = random.Random(seed)
    base = fetch(testdata, sf, "orders", ORDERS, base_rows, seed)
    nb = len(base)
    inputs = [file_input(os.path.join(out, "orders_000.csv"), "orders", ORDERS, base, "csv",
                         {"status": "Completed", "read": nb, "inserted": nb,
                          "updated": 0, "failed": 0})]
    keys = [int(r[0]) for r in base]
    next_key = max(keys) + 1

    def fresh_row(key):
        return (str(key), str(rng.randint(1, 15000)), rng.choice(STATUSES),
                f"{rng.randint(100000, 50000000) / 100:.2f}",
                f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                rng.choice(PRIORITIES))

    for d in range(deltas):
        n_upd = delta_rows // 2
        n_new = delta_rows - n_upd
        upd = rng.sample(keys, n_upd)
        new = list(range(next_key, next_key + n_new))
        next_key += n_new
        rows = [fresh_row(k) for k in upd + new]
        rng.shuffle(rows)
        # in-file duplicates: later copies of earlier keys with new values
        for _ in range(dup_rows):
            pos = rng.randrange(len(rows))
            rows.insert(rng.randint(pos + 1, len(rows)), fresh_row(int(rows[pos][0])))
        bad = rng.randint(1, max_bad)
        for _ in range(bad):
            r = list(fresh_row(rng.choice(keys)))
            r[1] = None
            rows.insert(rng.randrange(len(rows) + 1), tuple(r))
        keys.extend(new)
        path = os.path.join(out, f"orders_{d + 1:03d}.csv")
        inputs.append(file_input(path, "orders", ORDERS, rows, "csv", {
            "status": "CompletedWithErrors", "read": len(rows), "inserted": n_new,
            "updated": n_upd, "failed": bad}))
    return {"inputs": inputs, "not_null": {"orders": ["o_custkey"]},
            "pk": {"orders": ["o_orderkey"]}}
