"""Expected-output digests from the DuckDB oracle (`SparkEntry.oracleSql`)
and the same digest of a Spark result written as parquet.

Both sides go through DuckDB's Python conversion and compare every
value exactly (`repr`), with columns sorted by name and rows sorted, as
the repository's own oracle gate does.
"""
import glob
import hashlib
import os
import threading

import duckdb


def _digest(rel):
    cols = sorted(rel.columns)
    rows = sorted(tuple(repr(v) for v in r)
                  for r in rel.select(*[f'"{c}"' for c in cols]).fetchall())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _connect(tables):
    """tables: name -> parquet path (a file, or a directory of parts)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in tables.items():
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


TIMEOUT = "timeout"


def oracle_digests(tables, sqls, limit_s):
    """name -> digest of the oracle SQL's result, 'error: ...' when the
    SQL fails, or TIMEOUT when it runs longer than limit_s."""
    con = _connect(tables)
    out = {}
    for name, sql in sorted(sqls.items()):
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            out[name] = _digest(con.sql(sql))
        except duckdb.InterruptException:
            out[name] = TIMEOUT
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"error: {type(e).__name__}: {e}"[:300]
        finally:
            timer.cancel()
    return out


def output_digest(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "error: no output files"
    con = duckdb.connect()
    return _digest(con.sql(f"SELECT * FROM read_parquet({files!r})"))
