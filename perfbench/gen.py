#!/usr/bin/env python3
"""Seeded Pi-hole FTL database generator and its answer file.

    python3 perfbench/gen.py --seed 7 --out work/ftl-7.db

writes `ftl-7.db` (the reference `queries` DDL, `id INTEGER PRIMARY KEY
AUTOINCREMENT` as FTL declares it) and `ftl-7.answers.json`.

The database holds DAYS days of queries ending at a fixed NOW:
ROWS_PER_DAY rows a day on a diurnal curve, CLIENTS clients and DOMAINS
domains (both Zipf-distributed), allowed / blocked / other status codes
and ~5% NULL reply_time. The same seed gives a byte-identical file.

The answer file is computed from the finished database with SQL through
sqlite3, not from the generator's own state, so it checks the program
independently. For each window (the last 31 and 91 days) it holds the
total / allowed / blocked counts, unique clients and domains, the top
client, the top-10 client list, and per client its query count and the
status classes it has (the series a figure for that client must show).
"""
import argparse
import bisect
import hashlib
import json
import math
import os
import random
import sqlite3

NOW = 1767225600  # 2026-01-01T00:00:00Z: the data's fixed "now"
DAYS = 91  # FTL's default retention
ROWS_PER_DAY = 3300
CLIENTS = 30
DOMAINS = 8000
WINDOWS = (31, 91)

DDL = """CREATE TABLE queries (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    timestamp INTEGER NOT NULL,
    type INTEGER NOT NULL,
    status INTEGER NOT NULL,
    domain TEXT NOT NULL,
    client TEXT NOT NULL,
    forward TEXT,
    additional_info TEXT,
    reply_type INTEGER,
    reply_time REAL,
    dnssec INTEGER,
    list_id INTEGER,
    ede INTEGER
)"""

# FTL status codes by class (the program's Preprocess mapping)
ALLOWED = (2, 3, 12, 13, 14, 17)
BLOCKED = (1, 4, 5, 6, 7, 8, 9, 10, 11, 15, 16, 18)
OTHER = (0,)


def zipf_cum(n, s):
    """Cumulative Zipf(s) weights over ranks 1..n."""
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return out


def diurnal_cum():
    """Cumulative weight of each hour of a day: quiet at 04:00, busy at 20:00."""
    acc, out = 0.0, []
    for h in range(24):
        acc += 1.0 + 0.8 * math.sin((h - 10) / 24.0 * 2 * math.pi)
        out.append(acc)
    return out


def rows(seed):
    rng = random.Random(seed)
    clients = [f"192.168.1.{10 + i}" for i in range(CLIENTS)]
    rng.shuffle(clients)  # which address holds which Zipf rank
    domains = [f"{rng.choice(('cdn', 'api', 'www', 'img', 'ads', 'tracker'))}"
               f"{i}.{rng.choice(('example.com', 'example.net', 'example.org'))}"
               for i in range(DOMAINS)]
    rng.shuffle(domains)
    blocky = {d for d in domains if rng.random() < 0.15}  # list-matched domains
    ccum, dcum, hcum = zipf_cum(CLIENTS, 1.1), zipf_cum(DOMAINS, 1.0), diurnal_cum()
    start = NOW - DAYS * 86400
    ts = []
    for day in range(DAYS):
        base = start + day * 86400
        for _ in range(ROWS_PER_DAY):
            h = bisect.bisect(hcum, rng.random() * hcum[-1])
            ts.append(base + h * 3600 + rng.randrange(3600))
    ts.sort()
    out = []
    for t in ts:
        client = clients[bisect.bisect(ccum, rng.random() * ccum[-1])]
        domain = domains[bisect.bisect(dcum, rng.random() * dcum[-1])]
        u = rng.random()
        if u < 0.01:
            status = OTHER[0]
        elif domain in blocky and u < 0.9:
            status = rng.choice(BLOCKED[:3]) if rng.random() < 0.9 else rng.choice(BLOCKED)
        else:
            status = 2 if rng.random() < 0.6 else rng.choice(ALLOWED)
        reply = None if rng.random() < 0.05 else round(rng.expovariate(40.0), 6)
        out.append((t, 1 + rng.randrange(16), status, domain, client,
                    None, None, rng.randrange(14), reply, rng.randrange(6),
                    None, None))
    return out


def write_db(seed, path):
    if os.path.exists(path):
        os.remove(path)
    conn = sqlite3.connect(path)
    conn.execute("PRAGMA journal_mode=OFF")  # a scratch file: no rollback needed
    conn.execute("PRAGMA synchronous=OFF")
    conn.execute(DDL)
    conn.executemany(
        "INSERT INTO queries (timestamp, type, status, domain, client, forward, "
        "additional_info, reply_type, reply_time, dnssec, list_id, ede) "
        "VALUES (?,?,?,?,?,?,?,?,?,?,?,?)", rows(seed))
    conn.commit()
    conn.close()


def window(days):
    """[from, to) epochs and the inclusive calendar dates of the last `days` days."""
    import datetime as dt
    end = dt.datetime.fromtimestamp(NOW - 86400, dt.timezone.utc).date()
    start = end - dt.timedelta(days=days - 1)
    return NOW - days * 86400, NOW, start.isoformat(), end.isoformat()


def class_sql():
    return (f"CASE WHEN status IN {ALLOWED} THEN 'Allowed' "
            f"WHEN status IN {BLOCKED} THEN 'Blocked' ELSE 'Other' END")


def answers(path):
    conn = sqlite3.connect(path)
    out = {"now": NOW, "rows": conn.execute("SELECT count(*) FROM queries").fetchone()[0],
           "windows": {}}
    for days in WINDOWS:
        lo, hi, start, end = window(days)
        where = f"timestamp >= {lo} AND timestamp < {hi}"
        total, allowed, blocked, n_clients, n_domains = conn.execute(
            f"SELECT count(*), sum(status IN {ALLOWED}), sum(status IN {BLOCKED}), "
            f"count(DISTINCT client), count(DISTINCT domain) FROM queries WHERE {where}"
        ).fetchone()
        by_client = conn.execute(
            f"SELECT client, count(*) AS c FROM queries WHERE {where} "
            "GROUP BY client ORDER BY c DESC, client ASC").fetchall()
        classes = {}
        for client, cls in conn.execute(
                f"SELECT DISTINCT client, {class_sql()} FROM queries WHERE {where}"):
            classes.setdefault(client, []).append(cls)
        all_classes = sorted({c for cs in classes.values() for c in cs})
        out["windows"][str(days)] = {
            "start": start, "end": end, "total": total, "allowed": allowed,
            "blocked": blocked, "unique_clients": n_clients,
            "unique_domains": n_domains, "top_client": by_client[0][0],
            "top10": [c for c, _ in by_client[:10]],
            "classes": all_classes,
            "clients": [{"client": c, "count": n, "classes": sorted(classes[c])}
                        for c, n in by_client]}
    conn.close()
    return out


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(seed, db_path, with_answers=True):
    """Write the database and its answer file; return (sha256, answers path)."""
    write_db(seed, db_path)
    digest = sha256(db_path)
    if not with_answers:
        return digest, None
    ans = answers(db_path)
    ans["sha256"] = digest
    ans_path = os.path.splitext(db_path)[0] + ".answers.json"
    with open(ans_path, "w") as f:
        json.dump(ans, f, indent=1, sort_keys=True)
    return digest, ans_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="path of the .db to write")
    a = ap.parse_args()
    digest, ans_path = generate(a.seed, a.out)
    print(f"{a.out} sha256={digest} answers={ans_path}")


if __name__ == "__main__":
    main()
