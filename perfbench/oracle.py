"""DuckDB oracle check of gate outputs, with the compare the repository's
tools/check_oracle.py makes: column names sorted, every value normalised to
text (floats at full precision), rows compared in order."""
import glob
import json
import multiprocessing
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem".split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _normed(values):
    """_norm over a column; a column of one kind skips the per-value test."""
    kinds = set(map(type, values))
    if kinds == {float}:
        return list(map(repr, values))
    if float not in kinds and type(None) not in kinds:
        return list(map(str, values))
    return list(map(_norm, values))


def _rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    columns = list(zip(*cur.fetchall())) or [()] * len(cols)
    return [cols[i] for i in order], list(zip(*(_normed(columns[i]) for i in order)))


def _check_one(job):
    data_dir, gates_dir, name, sql = job
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    files = sorted(glob.glob(os.path.join(gates_dir, name, "*.parquet")))
    if not files:
        return name, "no output"
    got_cols, got = _rows(con.execute(f"SELECT * FROM read_parquet({files!r})"))
    exp_cols, exp = _rows(con.execute(sql))
    con.close()
    if got_cols != exp_cols:
        return name, f"columns {got_cols} != {exp_cols}"
    if len(got) != len(exp):
        return name, f"{len(got)} rows != {len(exp)}"
    if got != exp:
        first = next(i for i, (g, e) in enumerate(zip(got, exp)) if g != e)
        return name, f"row {first}: {got[first]} != {exp[first]}"
    return name, None


def check(data_dir, gates_dir, workers):
    """Return {gate: None if its output matches the oracle, else the reason}."""
    with open(os.path.join(gates_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    jobs = [(data_dir, gates_dir, name, sql) for name, sql in sorted(oracles.items())]
    pool = multiprocessing.get_context("fork").Pool(workers)
    try:
        return dict(pool.imap_unordered(_check_one, jobs))
    finally:
        pool.close()
        pool.join()
