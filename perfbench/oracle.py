"""DuckDB oracle compare for the curation_board workload: runs each query's
oracle SQL over the same generated parquet tables and compares it with the
Spark result the benchmark wrote. The comparison is tools/check_oracle.py's
own (its TABLES, norm_cell and canon): column names sorted, rows sorted,
values rendered to 10 significant digits.
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon, norm_cell  # noqa: E402,F401


def compare(tables_dir, results_dir, oracle_sql, corrupt=None):
    """Returns {query: None if it matches, else a one-line reason}.
    `corrupt` names a query whose oracle rows get one bogus row appended
    (used by the benchmark's own tests to prove a mismatch is a failure)."""
    import duckdb
    con = duckdb.connect()
    # the benchmark's tables are Spark-written directories of part files
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            duck = con.sql(sql)
            dcols = [d[0] for d in duck.description]
            drows = duck.fetchall()
            if name == corrupt:
                drows.append(tuple("corrupted" for _ in dcols))
            sp = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            scols = [d[0] for d in sp.description]
            srows = sp.fetchall()
        except Exception as e:  # a missing result or a broken oracle is a failure
            verdicts[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        dc, dr = canon(drows, dcols)
        sc, sr = canon(srows, scols)
        if dc != sc:
            verdicts[name] = f"columns differ: spark={sc} oracle={dc}"
        elif dr != sr:
            first = next((i for i, (a, b) in enumerate(zip(sr, dr)) if a != b), min(len(sr), len(dr)))
            verdicts[name] = f"rows differ: spark={len(sr)} oracle={len(dr)}, first at {first}"
        else:
            verdicts[name] = None
    return verdicts
