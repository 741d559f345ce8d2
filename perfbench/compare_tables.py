"""Compares the surface workload's generated tables with a reference table
set of the same scale, column by column, and prints one line per column.

    python3 perfbench/compare_tables.py <reference_dir> <scale> <seed>

Run from the repository root; the tables are generated under
`.bench_work/compare-tables/`. Each line gives reference / generated for the
column's type, min, max, approximate distinct count and mean. For columns
with at most 25 distinct values it also gives the largest difference in one
value's share of the rows. A line starts with `!` when the names, types or
row counts differ.
"""
import shutil
import sys
from pathlib import Path

import duckdb

import gen_tables


def _short(v):
    return str(v)[:19]


def compare(ref_dir, scale, seed):
    out = Path(".bench_work") / "compare-tables"
    shutil.rmtree(out, ignore_errors=True)
    gen_tables.generate(str(out), scale, seed)
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        paths = (f"{ref_dir}/{t}.parquet", f"{out}/{t}.parquet")
        stats = [con.execute(f"SUMMARIZE SELECT * FROM '{p}'").fetchall() for p in paths]
        rows = [con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in paths]
        print(f"{'!' if rows[0] != rows[1] else ' '} {t}: rows {rows[0]} / {rows[1]}")
        for a, b in zip(*stats):
            col = a[0]
            line = (f"{t}.{col} {a[1]}/{b[1]} min {_short(a[2])}/{_short(b[2])}"
                    f" max {_short(a[3])}/{_short(b[3])} distinct {a[4]}/{b[4]}")
            if a[5] is not None:
                line += f" mean {float(a[5]):.4g}/{float(b[5]):.4g}"
            if a[4] <= 25:
                shares = [dict(con.execute(
                    f"SELECT {col}::VARCHAR, count(*) / sum(count(*)) OVER () "
                    f"FROM '{p}' GROUP BY 1").fetchall()) for p in paths]
                keys = set(shares[0]) | set(shares[1])
                diff = max(abs(shares[0].get(k, 0) - shares[1].get(k, 0)) for k in keys)
                line += f" share-diff {diff:.3f}"
            print(f"{'!' if (a[0], a[1]) != (b[0], b[1]) else ' '}   {line}")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    compare(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
