#!/usr/bin/env python3
"""Builder-side fixture generator (NOT part of the Spark library): a
TIME-SORTED copy of an events.parquet, for reproducing the sessionize
layout gate's fast path (measured by ProfileLayoutGate, a tool removed
since af949c0). Sorting by ts makes
the parquet row-group footers near-disjoint, which is exactly the
metadata evidence `EventStreams.timeClusteredLayout` requires before
auto-picking the native session_window strategy.

  python3 scripts/make_sorted_events.py [src_dir] [dst_dir]

Defaults: /root/repo/testdata-sf1 -> /tmp/events_sorted. The stock sf1
events parquet is a 128x replica layout whose row groups ALL span the
full time range (104/104 adjacent overlaps) — the gate refuses it by
design; this sorted copy is the provable counterpart.
"""
import os
import sys

import duckdb


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata-sf1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/events_sorted"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT * FROM '{src}/events.parquet' ORDER BY ts)
        TO '{dst}/events.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
    """)
    n = con.execute(f"SELECT count(*) FROM '{dst}/events.parquet'").fetchone()[0]
    print(f"{dst}/events.parquet: {n} rows, time-sorted")


if __name__ == "__main__":
    main()
