"""Compares gate outputs with their DuckDB oracle answers.

Rows are normalized the way graft's own correctness check does it:
columns sorted by name, rows sorted, floats compared exactly (gates round
them), NaN as a token, decimals kept distinct from integers and rejected
as output types.
"""
import decimal
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(table, cols):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in table.to_pylist())


def mismatches(tables_dir, outputs_dir, oracles, threads, tmp_dir):
    """Maps each gate whose output disagrees with its oracle to a reason."""
    con = duckdb.connect(config={"threads": threads, "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    bad = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(outputs_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no output written"
            continue
        got = pq.read_table(files)
        exp = con.execute(sql).fetch_arrow_table()
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        dec = [f.name for tb in (got, exp) for f in tb.schema if "decimal" in str(f.type)]
        if gcols != ecols:
            bad[name] = f"columns {gcols} vs {ecols}"
        elif dec:
            bad[name] = f"decimal output columns {dec}"
        else:
            g, e = _rows(got, gcols), _rows(exp, ecols)
            if len(g) != len(e):
                bad[name] = f"{len(g)} rows vs {len(e)}"
            elif g != e:
                diff = next((a, b) for a, b in zip(g, e) if a != b)
                bad[name] = f"rows differ; first: {diff[0]} vs {diff[1]}"
    con.close()
    return bad
