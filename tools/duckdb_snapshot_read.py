#!/usr/bin/env python3
"""DuckDB side of the TableStore interop contract (r14 VERDICT #8).

`TableStore.snapshotFileList(table)` exposes a pointer-committed
snapshot as a plain list of parquet paths; this script is the foreign
engine reading it with zero TableStore code:

    SELECT * FROM read_parquet([files...],
                               union_by_name=true, hive_partitioning=true)

union_by_name: older generations may predate a column (TableStore's
allowMissingColumns read). hive_partitioning: layout columns live in
`col=value/` dirs.

Usage:
  duckdb_snapshot_read.py FILELIST.txt            # count + order-free hash
  duckdb_snapshot_read.py FILELIST.txt 'SQL'      # first column of SQL over `snap`

The default output is the row count and a commutative content hash
(sum of per-row md5 slices — the repo's order-free fingerprint idiom),
so two engines reading the same snapshot print the same line.
"""
import sys

import duckdb


def main():
    files = [ln.strip() for ln in open(sys.argv[1]) if ln.strip()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW snap AS SELECT * FROM read_parquet("
        f"{files!r}, union_by_name=true, hive_partitioning=true)")
    if len(sys.argv) > 2:
        for row in con.execute(sys.argv[2]).fetchall():
            print(row[0])
        return
    n, h = con.execute(
        """SELECT CAST(count(*) AS BIGINT),
                  CAST(coalesce(sum(CAST('0x' || substr(
                      md5(CAST(snap AS VARCHAR)), 1, 10) AS BIGINT)), 0)
                    AS BIGINT)
           FROM snap""").fetchone()
    print(f'{{"rows": {n}, "content_hash": {h}}}')


if __name__ == "__main__":
    main()
