#!/usr/bin/env python3
"""Compare the parquet footers of two convert outputs.

Usage: python3 tools/parquet_footer_diff.py A B

A and B are parquet files or directories of part files (a convert's -o).
Files are matched by name. For every column chunk the tool compares,
through DuckDB's `parquet_metadata`, the physical type, the set of
encodings, min/max, the null count, the value count and the row group's
row count, then prints the compressed-byte delta per column. Byte sizes
may differ; anything else may not: the exit code is 1 on any other
difference (a file or a row group on one side only included), else 0.
"""
import sys
from pathlib import Path

import duckdb

FIELDS = ["type", "encodings", "stats_min", "stats_max", "stats_min_value",
          "stats_max_value", "stats_null_count", "num_values", "row_group_num_rows"]


def parts(root):
    p = Path(root)
    if p.is_file():
        return {p.name: p}
    files = {}
    for f in sorted(p.rglob("*.parquet")):
        rel = f.relative_to(p)
        if not any(s.startswith((".", "_")) for s in rel.parts):
            files[str(rel)] = f
    return files


def chunks(con, path):
    """{(row_group, column): (fields..., compressed_bytes)} for one file."""
    rows = con.execute(
        "SELECT row_group_id, path_in_schema, " + ", ".join(FIELDS) +
        ", total_compressed_size FROM parquet_metadata(?)", [str(path)]).fetchall()
    out = {}
    for r in rows:
        vals = list(r[2:-1])
        enc = FIELDS.index("encodings")
        vals[enc] = ",".join(sorted(e.strip() for e in (vals[enc] or "").split(",")))
        out[(r[0], r[1])] = (tuple(vals), r[-1])
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = parts(argv[1]), parts(argv[2])
    con = duckdb.connect()
    diffs = []
    bytes_a, bytes_b = {}, {}
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            diffs.append(f"{name}: only in {'A' if name in a else 'B'}")
            continue
        ca, cb = chunks(con, a[name]), chunks(con, b[name])
        for key in sorted(set(ca) | set(cb), key=str):
            if key not in ca or key not in cb:
                diffs.append(f"{name} row group {key[0]} column {key[1]}: "
                             f"only in {'A' if key in ca else 'B'}")
                continue
            (va, sa), (vb, sb) = ca[key], cb[key]
            col = key[1]
            bytes_a[col] = bytes_a.get(col, 0) + sa
            bytes_b[col] = bytes_b.get(col, 0) + sb
            for f, x, y in zip(FIELDS, va, vb):
                if x != y:
                    diffs.append(f"{name} row group {key[0]} column {col}: {f} {x!r} != {y!r}")
    print(f"{'column':<24}{'A bytes':>14}{'B bytes':>14}{'delta':>12}")
    for col in sorted(set(bytes_a) | set(bytes_b)):
        x, y = bytes_a.get(col, 0), bytes_b.get(col, 0)
        print(f"{col:<24}{x:>14}{y:>14}{y - x:>+12}")
    ta, tb = sum(bytes_a.values()), sum(bytes_b.values())
    print(f"{'total':<24}{ta:>14}{tb:>14}{tb - ta:>+12}")
    print(f"files: {len(a)} vs {len(b)}; metadata differences: {len(diffs)}")
    for d in diffs[:50]:
        print("  " + d)
    if len(diffs) > 50:
        print(f"  ... {len(diffs) - 50} more")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
