"""The DuckDB side of the correctness check.

The JVM dumps each checked result (parquet, one directory per query) plus
`oracle_sql.json`. Here DuckDB runs each query's oracle SQL over the same
generated tables, and the two results must have equal order-insensitive
digests (columns sorted by name, values normalized as the repository's
oracle gate does)."""
import hashlib
import json
import math
import os
import re
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def digest(columns, rows):
    """Order-insensitive: the digest of the sorted normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x01".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\x02")
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def materialized(sql):
    """The same SQL with every non-recursive CTE marked MATERIALIZED.

    The results are identical; only DuckDB's evaluation changes. Without
    it DuckDB re-evaluates the CTEs a recursive CTE reads on every
    recursion step, which makes the connected-components closure oracles
    take ~45 s instead of ~3 s on an 800-document corpus."""
    return re.sub(r"(\bWITH RECURSIVE |\bWITH |,\s*)(\w+) AS \(",
                  lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def check(data_dir, check_dir, names):
    """Return {query: reason} for every query whose result differs."""
    if not names:
        return {}
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            gcols = [d[0] for d in got.description]
            g = digest(gcols, got.fetchall())
            want = con.execute(materialized(sql[name]))
            wcols = [d[0] for d in want.description]
            w = digest(wcols, want.fetchall())
        except Exception as e:  # a failing oracle is a failed check
            bad[name] = f"oracle check threw {type(e).__name__}: {e}"
            continue
        print(f"[oracle] {name} {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        if sorted(gcols) != sorted(wcols):
            bad[name] = f"columns differ: spark {sorted(gcols)} vs oracle {sorted(wcols)}"
        elif g != w:
            bad[name] = f"result differs from DuckDB oracle: digest {g} vs {w}"
    return bad
