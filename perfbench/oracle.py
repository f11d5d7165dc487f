"""DuckDB oracle check of the outputs a benchmark run dumped.

Each oracle-backed operation's Spark output (a parquet directory) is read
back with DuckDB and compared with the result of its `SparkEntry.oracleSql`
query over the same input tables: same columns, same types up to integer
width, same rows as a multiset. Oracle results depend only on the SQL and
the input files, so their digests are cached per checkout.
"""
import hashlib
import json
import math
from pathlib import Path

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _norm_type(t):
    return {"TINYINT": "INTLIKE", "SMALLINT": "INTLIKE",
            "INTEGER": "INTLIKE", "BIGINT": "INTLIKE"}.get(t, t)


def digest(rel):
    """(row count, columns, types, sha256) of a relation, independent of
    column and row order."""
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    types = [_norm_type(str(rel.types[i])) for i in idx]
    rows = sorted(tuple(_norm(r[i]) for i in idx) for r in rel.fetchall())
    h = hashlib.sha256(json.dumps([cols, types, rows]).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "types": types, "sha256": h}


def _parquet_glob(path):
    p = Path(path)
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for f in sorted(hashlib.sha256(p.read_bytes()).hexdigest()
                    for p in Path(data_dir).rglob("*.parquet") if p.is_file()):
        h.update(f.encode())
    return h.hexdigest()


def check(targets, data_dir, threads, cache_file):
    """Compare every target {name: {"sql", "path"}}; returns {name: error}
    for the mismatches (empty when all match)."""
    import duckdb
    con = duckdb.connect(config={"threads": threads})
    for src in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {src.stem} AS SELECT * FROM "
                    f"read_parquet('{_parquet_glob(src)}')")
    cache = json.loads(cache_file.read_text()) if cache_file.is_file() else {}
    fp = data_fingerprint(data_dir)
    errors = {}
    for name, spec in sorted(targets.items()):
        key = hashlib.sha256((fp + "\n" + spec["sql"]).encode()).hexdigest()
        try:
            if key not in cache:
                cache[key] = digest(con.sql(spec["sql"]))
            want = cache[key]
            got = digest(con.sql(
                f"SELECT * FROM read_parquet('{_parquet_glob(spec['path'])}')"))
        except Exception as e:  # a failed read or query is a mismatch
            errors[name] = f"{type(e).__name__}: {e}"
            continue
        for field in ("cols", "types", "rows", "sha256"):
            if got[field] != want[field]:
                errors[name] = (f"{field} differ: spark {str(got[field])[:200]} "
                                f"vs oracle {str(want[field])[:200]}")
                break
    con.close()
    cache_file.write_text(json.dumps(cache))
    return errors
