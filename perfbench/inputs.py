"""Inputs of the benchmark: the committed base tables, the seeded 10x
clone tier, the seeded pass orders, and the DuckDB oracle's row counts.

Everything here runs before the JVM starts, outside every timed region.
"""
import glob
import hashlib
import json
import os
import random
import shutil
import time

import duckdb

ROOT = os.getcwd()
BASE = os.path.join(ROOT, "perfbench", "data", "sf0.01")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CLONE_COPIES = 10
CLONE_FILES = 32
KEEP_CLONES = 4


def pass_orders(queries, seed, n):
    """The cold pass order and n warm pass orders, fixed by the seed. The
    cold order is a shuffle; warm pass i runs a second shuffle rotated by
    i, so over each cycle of len(queries) warm passes every query runs
    first once, and pays a shared memo build as often as the others."""
    rng = random.Random(seed)
    cold, base = list(queries), list(queries)
    rng.shuffle(cold)
    rng.shuffle(base)
    k = len(base)
    return [cold] + [base[i % k:] + base[:i % k] for i in range(n)]


def dir_digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def base_dir():
    if not all(os.path.isfile(os.path.join(BASE, f"{t}.parquet")) for t in TABLES):
        raise FileNotFoundError(f"base tables missing under {BASE}")
    return BASE


def _clone_sql(table):
    """ScaleProbe's 10x construction, row for row."""
    c = CLONE_COPIES
    src = f"read_parquet('{os.path.join(BASE, table + '.parquet')}')"
    ks = f"(SELECT range AS k FROM range({c}))"
    if table == "documents":
        return (f"SELECT doc_id * {c} + k AS doc_id, "
                f"CASE WHEN k = 0 THEN text ELSE text || ' v' || CAST(k AS VARCHAR) END AS text, "
                f"lang, source, n_chars FROM {src}, {ks}")
    if table == "embeddings":
        return f"SELECT vec_id * {c} + k AS vec_id, label, embedding FROM {src}, {ks}"
    if table == "lineitem":
        return (f"SELECT * REPLACE (l_orderkey * {c} + k AS l_orderkey, "
                f"l_suppkey + k * 1000000 AS l_suppkey) FROM {src}, {ks}")
    raise ValueError(table)


def clone_dir(seed, log):
    """The 10x clone tier for `seed`: documents, embeddings and lineitem
    cloned as ScaleProbe clones them, each written as CLONE_FILES files
    (ScaleProbe's repartition(32)) with a row-to-file assignment and row
    order drawn from the seed; the other tables are the base tables.
    Returns (dir, generator seconds)."""
    out = os.path.join(WORK, "inputs", f"clone{CLONE_COPIES}-s{seed}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    salt = random.Random(seed).randrange(1 << 30)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        dst = os.path.join(tmp, f"{t}.parquet")
        if t not in ("documents", "embeddings", "lineitem"):
            shutil.copyfile(os.path.join(BASE, f"{t}.parquet"), dst)
            continue
        os.makedirs(dst)
        # a whole-row hash: only identical rows tie, so the layout is exact
        con.execute(f"CREATE OR REPLACE TEMP TABLE c AS "
                    f"SELECT *, hash(r, {salt}) AS _h FROM ({_clone_sql(t)}) r")
        for i in range(CLONE_FILES):
            con.execute(f"COPY (SELECT * EXCLUDE (_h) FROM c WHERE _h % {CLONE_FILES} = {i} "
                        f"ORDER BY _h) TO '{os.path.join(dst, f'part-{i:05d}.parquet')}' "
                        f"(FORMAT parquet)")
    con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _prune_clones(keep=out)
    dt = time.perf_counter() - t0
    print(f"[perfbench] generated clone tier seed={seed} in {dt:.2f} s", file=log)
    return out, dt


def clone_content_key():
    """The clone tier's rows do not depend on the seed (the seed only lays
    them out), so its oracle counts are keyed by the base tables and the
    construction."""
    return f"clone{CLONE_COPIES}:" + dir_digest(BASE)


def _prune_clones(keep):
    dirs = sorted(glob.glob(os.path.join(WORK, "inputs", "clone*")), key=os.path.getmtime)
    for d in dirs[:-KEEP_CLONES]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def _views(con, d):
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")


def oracle_counts(d, queries, oracle_sql, log, content_key=None):
    """Expected row count per query from DuckDB running the program's own
    oracle SQL on the same parquet; None for queries without oracle SQL.
    Cached per (input content, oracle SQL)."""
    h = hashlib.sha256((content_key or dir_digest(d)).encode())
    for q in sorted(queries):
        h.update(q.encode() + b"\0" + oracle_sql.get(q, "").encode() + b"\0")
    cache = os.path.join(WORK, "oracle", h.hexdigest()[:24] + ".json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            return json.load(fh)
    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    _views(con, d)
    counts = {}
    for q in sorted(queries):
        sql = oracle_sql.get(q)
        counts[q] = None if sql is None else \
            con.execute(f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')}) AS oracle_q").fetchone()[0]
    con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(counts, fh)
    os.replace(cache + ".tmp", cache)
    print(f"[perfbench] oracle row counts for {len(queries)} queries in "
          f"{time.perf_counter() - t0:.2f} s", file=log)
    return counts
