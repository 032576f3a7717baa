#!/usr/bin/env python3
"""Dev-only: replicate a testdata table N x into /tmp with distinct ids,
so operators can be measured on corpus-scale row counts (the sf0.1 files
are latency-bound, not throughput-bound). Used with graft.Profile; the
round-8 numbers in SCALE.md came from these replicas and graft.ShingleProbe,
a probe removed after commit 454e803 (restore it with
`git show 454e803:src/main/scala/graft/ShingleProbe.scala`).

Usage: python3 tools/make_scaled.py documents 100   -> /tmp/docs_x100
       python3 tools/make_scaled.py embeddings 100  -> /tmp/emb_x100
"""
import sys, os
import duckdb

TABLES = {
    # plain replication: N exact copies — fine for map-side operators
    # (shingling, chunking, decontamination probes), PATHOLOGICAL for
    # LSH self-joins (every doc gains >= N exact duplicates, so the
    # candidate relation grows quadratically in N — by construction,
    # not as a property of the operator)
    "documents": ("docs", "SELECT doc_id + r.i * {shift} AS doc_id, "
                          "text, lang, source, n_chars"),
    # mutated replication: every token (after the first) carries a
    # replica-unique tag, so EVERY trigram is replica-local — a single
    # prefix token would not do it (one extra shingle almost never
    # changes the 16 signature mins, so band keys would still collide
    # across replicas and candidates would still grow quadratically).
    # Intra-replica duplicate structure is preserved: exact/near dup
    # relations of the original corpus survive within each replica.
    "documents-mutated": ("docsm",
                          "SELECT doc_id + r.i * {shift} AS doc_id, "
                          "replace(text, ' ', ' r' || r.i || '_') AS text, "
                          "lang, source, n_chars"),
    "embeddings": ("emb", "SELECT vec_id + r.i * {shift} AS vec_id, "
                          "embedding, label"),
}

def make_tpch(mult, sf_dir="/root/testdata/sf0.1"):
    """Scaled TPC-H join-layer replica: lineitem + orders replicated with
    shifted order keys (per-order line structure preserved within each
    replica; customers/suppliers unchanged, so per-entity volumes scale
    by N — the "same business, N x the history" shape). Every other
    table is copied as-is, so the standard SparkEntry h* queries run
    against the output dir directly:
        python3 tools/make_scaled.py tpch 30   -> /tmp/tpch_x30
    """
    out = f"/tmp/tpch_x{mult}"
    os.makedirs(out, exist_ok=True)
    # shift derived from the data, not a constant: a fixed stride would
    # silently overlap replica key ranges at larger source SFs (sparse
    # TPC-H orderkeys run to SF*6M), fanning joins out with no error
    shift = duckdb.sql(
        f"SELECT max(o_orderkey) + 1 FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]
    reps = f"(SELECT unnest(generate_series(0, {mult - 1})) AS i) r"
    duckdb.sql(f"""
      COPY (SELECT o_orderkey + r.i * {shift} AS o_orderkey,
                   COLUMNS(c -> c <> 'o_orderkey')
            FROM '{sf_dir}/orders.parquet', {reps})
      TO '{out}/orders.parquet' (FORMAT parquet)""")
    duckdb.sql(f"""
      COPY (SELECT l_orderkey + r.i * {shift} AS l_orderkey,
                   COLUMNS(c -> c <> 'l_orderkey')
            FROM '{sf_dir}/lineitem.parquet', {reps})
      TO '{out}/lineitem.parquet' (FORMAT parquet)""")
    import shutil, glob
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)
        if name not in ("orders.parquet", "lineitem.parquet"):
            shutil.copy(f, f"{out}/{name}")
    for t in ("orders", "lineitem"):
        n = duckdb.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{out}/{t}.parquet rows={n}")


def main(table, mult, sf_dir="/root/testdata/sf0.1"):
    if table == "tpch":
        return make_tpch(mult, sf_dir)
    prefix, select = TABLES[table]
    src = table.split("-")[0]  # documents-mutated reads documents.parquet
    out = f"/tmp/{prefix}_x{mult}"
    os.makedirs(out, exist_ok=True)
    # data-derived id shift (same rationale as make_tpch): a fixed stride
    # silently overlaps replica id ranges when the source ids outgrow it
    id_col = "vec_id" if src == "embeddings" else "doc_id"
    shift = duckdb.sql(
        f"SELECT max({id_col}) + 1 FROM '{sf_dir}/{src}.parquet'"
    ).fetchone()[0]
    select = select.format(shift=shift)
    duckdb.sql(f"""
      COPY ({select}
            FROM '{sf_dir}/{src}.parquet',
                 (SELECT unnest(generate_series(0, {mult - 1})) AS i) r)
      TO '{out}/{src}.parquet' (FORMAT parquet)
    """)
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/{src}.parquet'").fetchone()[0]
    print(f"{out}/{src}.parquet rows={n}")

def make_full(mult, sf_dir="/root/testdata/sf0.1", out=None):
    """Complete scaled SF directory for running the WHOLE suite (Bench with
    SPARK_GRAFT_SF_DIR pointed here):
        python3 tools/make_scaled.py full 10   -> /tmp/sf1
    Per-table scaling chosen so no operator becomes pathological BY
    CONSTRUCTION (see the TABLES header note on quadratic LSH candidates):
      - orders/lineitem: shifted-orderkey replicas (make_tpch shape);
      - events: shifted event_id AND user_id per replica -> mult x users,
        per-user history identical to the source (streaks/windows/sessions
        scale in #keys, not in degenerate duplicate timestamps per key);
      - documents: the mutated replication (replica-local trigrams), so
        MinHash/SimHash candidate relations grow linearly;
      - embeddings: per-replica CYCLIC ROTATION of the vector (norm and
        intra-replica duplicate structure preserved; a rotated vector has
        fresh hyperplane dots, so replicas don't collide in LSH buckets
        the way exact copies would);
      - dimension tables: copied as-is (same business, mult x history).
    """
    import shutil, glob
    out = out or f"/tmp/sf{mult}x"
    os.makedirs(out, exist_ok=True)
    reps = f"(SELECT unnest(generate_series(0, {mult - 1})) AS i) r"
    # orders + lineitem (make_tpch logic inline, targeting `out`)
    oshift = duckdb.sql(
        f"SELECT max(o_orderkey) + 1 FROM '{sf_dir}/orders.parquet'").fetchone()[0]
    duckdb.sql(f"""
      COPY (SELECT o_orderkey + r.i * {oshift} AS o_orderkey,
                   COLUMNS(c -> c <> 'o_orderkey')
            FROM '{sf_dir}/orders.parquet', {reps})
      TO '{out}/orders.parquet' (FORMAT parquet)""")
    duckdb.sql(f"""
      COPY (SELECT l_orderkey + r.i * {oshift} AS l_orderkey,
                   COLUMNS(c -> c <> 'l_orderkey')
            FROM '{sf_dir}/lineitem.parquet', {reps})
      TO '{out}/lineitem.parquet' (FORMAT parquet)""")
    # events: new ids AND new users per replica
    eshift, ushift = duckdb.sql(
        f"SELECT max(event_id) + 1, max(user_id) + 1 "
        f"FROM '{sf_dir}/events.parquet'").fetchone()
    duckdb.sql(f"""
      COPY (SELECT event_id + r.i * {eshift} AS event_id,
                   user_id + r.i * {ushift} AS user_id,
                   COLUMNS(c -> c NOT IN ('event_id', 'user_id'))
            FROM '{sf_dir}/events.parquet', {reps})
      TO '{out}/events.parquet' (FORMAT parquet)""")
    # documents: mutated replication (replica-unique token tags)
    dshift = duckdb.sql(
        f"SELECT max(doc_id) + 1 FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    duckdb.sql(f"""
      COPY (SELECT doc_id + r.i * {dshift} AS doc_id,
                   replace(text, ' ', ' r' || r.i || '_') AS text,
                   lang, source, n_chars
            FROM '{sf_dir}/documents.parquet', {reps})
      TO '{out}/documents.parquet' (FORMAT parquet)""")
    # embeddings: cyclic rotation by replica index (dim 64 >> mult)
    vshift = duckdb.sql(
        f"SELECT max(vec_id) + 1 FROM '{sf_dir}/embeddings.parquet'").fetchone()[0]
    duckdb.sql(f"""
      COPY (SELECT vec_id + r.i * {vshift} AS vec_id,
                   list_concat(embedding[(r.i + 1):], embedding[1:r.i])
                     ::FLOAT[] AS embedding,
                   label
            FROM '{sf_dir}/embeddings.parquet', {reps})
      TO '{out}/embeddings.parquet' (FORMAT parquet)""")
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)
        if name not in ("orders.parquet", "lineitem.parquet", "events.parquet",
                        "documents.parquet", "embeddings.parquet"):
            shutil.copy(f, f"{out}/{name}")
    for t in ("lineitem", "events", "documents", "embeddings"):
        n = duckdb.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{out}/{t}.parquet rows={n}")


if __name__ == "__main__":
    if sys.argv[1] == "full":
        make_full(int(sys.argv[2]),
                  sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1",
                  sys.argv[4] if len(sys.argv) > 4 else None)
    else:
        main(sys.argv[1], int(sys.argv[2]),
             sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1")
