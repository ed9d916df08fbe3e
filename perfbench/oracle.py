"""Expected outputs from DuckDB, and the order-insensitive row digest both
sides are compared by.

The oracles run in a child Python process before Spark starts: they are
never timed, and their memory never shows in the benchmark's peak RSS.
The child is a plain subprocess that is waited for, so it leaves no helper
process behind (a multiprocessing pool would start a resource tracker that
outlives the benchmark).

    python3 perfbench/oracle.py < pickled (views, queries, raw)
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import struct
import subprocess
import sys
from dataclasses import dataclass


@dataclass(frozen=True)
class Expected:
    rows: int
    digest: str


def _canon_value(v) -> str:
    """Floats by their exact IEEE-754 bits (the registry's oracles are
    bit-exact); lists element-wise; everything else by ``str``."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def digest(rows, cols) -> Expected:
    """Row count plus a hash that ignores row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon_value(r[i]) for i in order)
                   for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(cols)).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return Expected(len(canon), h.hexdigest())


def _run_sql(views: dict[str, str], queries: dict[str, str],
             raw: tuple[str, ...]) -> dict:
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    out = {}
    for name, sql in queries.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        if name in raw:
            out[name] = (cols, rows)
        else:
            e = digest(rows, cols)
            out[name] = (e.rows, e.digest)
    con.close()
    return out


def run_oracles(views: dict[str, str], queries: dict[str, str],
                raw: tuple[str, ...] = ()) -> dict:
    """Run ``queries`` over DuckDB views of parquet files in a child
    process.  Returns ``name -> Expected``, or ``name -> (cols, rows)``
    for the names in ``raw`` (outputs the caller slices before
    hashing)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        input=pickle.dumps((views, queries, tuple(raw))),
        stdout=subprocess.PIPE, check=True)
    out = pickle.loads(proc.stdout)
    return {name: v if name in raw else Expected(*v)
            for name, v in out.items()}


if __name__ == "__main__":
    sys.stdout.buffer.write(
        pickle.dumps(_run_sql(*pickle.load(sys.stdin.buffer))))
