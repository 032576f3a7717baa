#!/usr/bin/env python3
"""Deterministic large-row replication of a testdata events table, for the
facade head-to-head (FacadeBench vs tools/ref_bench.py) past the scales
the driver ships.

Each copy is time-shifted past the previous one by the base span (+1 s),
so run/session/date structure is preserved instead of piling 1000 copies
onto the same 30 days; event_ids are re-keyed per copy so (ts, id) stays
a total order. Same construction as round 5's 10x/30x/100x sets and
StreakBench's in-memory replicas (StreakBench was removed after commit
454e803; restore it with `git show 454e803:src/main/scala/graft/StreakBench.scala`).

Usage: make_events_replica.py <baseSfDir> <factor> <outDir>
e.g.   make_events_replica.py /root/testdata/sf0.1 1000 /tmp/fac100m
"""
import os
import sys

import duckdb


def main():
    base, factor, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = f"{base}/events.parquet"
    span, = con.sql(
        f"SELECT max(ts) - min(ts) + INTERVAL 1 SECOND FROM '{src}'").fetchone()
    # ts goes out as epoch-NANOS BIGINT: DuckDB's TIMESTAMP would land as
    # parquet TIMESTAMP_NTZ (which Spark reads as TIMESTAMP_NTZ, breaking
    # unix_micros), while a LongType ts takes the exact nanosAsLong +
    # normalizeTs path the driver testdata takes; pandas' to_datetime
    # likewise defaults int64 to nanos.
    con.sql(f"""
        COPY (
          SELECT event_id + copy * 10000000000 AS event_id,
                 epoch_ns(ts + copy * INTERVAL '{span.total_seconds()}' SECOND) AS ts,
                 user_id, event_type, value, props
          FROM '{src}', (SELECT unnest(range({factor})) AS copy)
          ORDER BY copy
        ) TO '{out}/events.parquet' (FORMAT parquet)
    """)
    n, = con.sql(f"SELECT count(*) FROM '{out}/events.parquet'").fetchone()
    print(f"{out}/events.parquet: {n} rows ({factor}x of {src})")


if __name__ == "__main__":
    main()
