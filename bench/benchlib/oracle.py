"""Expected results: DuckDB digests of `SparkEntry.oracleSql`, compared
the way `scripts/check.py` compares (see digest.py), cached by the bytes
of the input tables and the SQL text."""
import hashlib
import json
import os

import duckdb

from . import digest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _tables_hash(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected(data_dir, keys, oracle_sql, cache_dir):
    """{key: digest} for every key with oracle SQL; a key whose oracle
    fails maps to 'oracle error: ...' and so never matches."""
    os.makedirs(cache_dir, exist_ok=True)
    th = _tables_hash(data_dir)
    out, todo = {}, []
    for k in keys:
        if k not in oracle_sql:
            continue
        ck = hashlib.sha256((th + "\0" + oracle_sql[k]).encode()).hexdigest()
        f = os.path.join(cache_dir, ck + ".json")
        if os.path.exists(f):
            out[k] = json.load(open(f))["digest"]
        else:
            todo.append((k, f))
    if todo:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        for k, f in todo:
            try:
                cur = con.execute(oracle_sql[k])
                names = [d[0] for d in cur.description]
                out[k] = digest.digest(names, cur.fetchall())
            except Exception as e:  # an oracle that fails never matches
                out[k] = f"oracle error: {type(e).__name__}: {e}"
                continue
            with open(f, "w") as fh:
                json.dump({"key": k, "digest": out[k]}, fh)
        con.close()
    return out
