"""Output check.

Every entry's captured Spark result is compared with the entry's
`SparkEntry.oracleSql` run in DuckDB over the same generated parquet. Both sides are canonicalized (columns sorted by name, rows
sorted, floats rounded to 9 places) and hashed; the DuckDB digests are
cached per (generator, seed, SQL) because they do not depend on the
program build.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(cols, rows):
    """Order-insensitive digest of a result table."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_norm(r[i]) for i in idx) for r in rows),
                   key=lambda t: tuple((x is None, str(x)) for x in t))
    body = json.dumps([[cols[i] for i in idx], canon], default=str)
    return {"rows": len(canon), "sha256": hashlib.sha256(body.encode()).hexdigest()}


def spark_digest(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    t = pq.ParquetDataset(files).read()
    return digest(t.column_names, [tuple(r.values()) for r in t.to_pylist()])


def oracle_digests(data_dir, sqls, cache_file):
    """DuckDB digests for `sqls` (name -> SQL), computed once per cache key."""
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
    missing = {n: q for n, q in sqls.items() if cached.get(n, {}).get("sql") != q}
    if missing:
        con = duckdb.connect()
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        for n, q in missing.items():
            res = con.execute(q)
            cached[n] = {"sql": q, **digest([c[0] for c in res.description], res.fetchall())}
        con.close()
        os.makedirs(os.path.dirname(cache_file), exist_ok=True)
        with open(cache_file, "w") as f:
            json.dump(cached, f)
    return {n: cached[n] for n in sqls}


def check_entries(data_dir, sqls, results_dir, cache_file):
    """Returns {entry: None if it matches, else a one-line reason}."""
    want = oracle_digests(data_dir, sqls, cache_file)
    verdict = {}
    for n in sorted(sqls):
        got = spark_digest(os.path.join(results_dir, n))
        if got is None:
            verdict[n] = "no Spark result"
        elif (got["rows"], got["sha256"]) != (want[n]["rows"], want[n]["sha256"]):
            verdict[n] = (f"rows spark={got['rows']} oracle={want[n]['rows']}, "
                          f"digest {got['sha256'][:12]} != {want[n]['sha256'][:12]}")
        else:
            verdict[n] = None
    return verdict
