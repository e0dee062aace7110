"""Correctness checks run after the timed window, against DuckDB."""
import contextlib
import importlib.util
import io
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row):
    return tuple((0, 0) if v is None
                 else (1, round(float(v), 6)) if isinstance(v, (int, float))
                 else (2, str(v)) for v in row)


def compare_rows(got, want, order=None):
    """None when `got` equals `want` as a multiset of rows (floats within
    1e-9 relative), and, when `order` = (key positions, descending) is
    given, `got` is sorted by those keys. Otherwise a one-line reason."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if order:
        keys, desc = order
        ks = [tuple(r[k] for k in keys) for r in got]
        if any((a < b) if desc else (a > b) for a, b in zip(ks, ks[1:])):
            return "result not in ORDERBY order"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {g} vs {w}"
    return None


def _star(star_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(star_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(star_dir, f)}')")
    return con


def check_serve(star_dir, pool, results):
    """results: {pool index: rows}. Returns {pool index: reason} for every
    text whose result differs from its paired SQL in DuckDB."""
    con = _star(star_dir)
    bad = {}
    for idx, rows in results.items():
        q = pool[idx]
        why = compare_rows(rows, con.execute(q["sql"]).fetchall(), q["order"])
        if why:
            bad[idx] = why
    return bad


def check_analytic(root, star_dir, dump_dir):
    """Runs the repo's own oracle compare (tools/check.py) over the dump;
    returns {query: reason} for every FAIL line it prints."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(star_dir, dump_dir)
    bad = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            bad[name] = why
    return bad


def _read_txt(ds_dir, table, cols):
    df = pd.read_csv(os.path.join(ds_dir, f"{table}.txt"), sep="\t", header=None,
                     usecols=range(len(cols)), names=[c[0] for c in cols],
                     keep_default_na=False, dtype=str)
    for name, typ, *_ in cols:
        if typ == "INTEGER":
            df[name] = df[name].astype("int64")
        elif typ == "REAL":
            df[name] = df[name].astype("float32")
    return df


def check_ingest(ds_dir, conv_dir, result_file, schemas, rows, sql):
    """Returns a list of reasons: converted parquet row counts against the
    generated counts, and the reference-format result file against DuckDB
    over the generated .txt files."""
    bad = []
    for table, n in rows.items():
        path = os.path.join(conv_dir, f"{table}.parquet")
        try:
            got = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                      for f in os.listdir(path) if f.endswith(".parquet"))
        except OSError as e:
            bad.append(f"{table}: converted parquet unreadable: {e}")
            continue
        if got != n:
            bad.append(f"{table}: converted {got} rows, generated {n}")
    con = duckdb.connect()
    for table, cols in schemas.items():
        con.register(table, _read_txt(ds_dir, table, cols))
    want = [tuple(str(v) for v in r) for r in con.execute(sql).fetchall()]
    try:
        with open(result_file) as f:
            lines = f.read().splitlines()
    except OSError as e:
        return bad + [f"result file unreadable: {e}"]
    got = [tuple(line.split("\t")[:-1]) for line in lines[1:]]
    why = compare_rows(got, want)
    if why:
        bad.append(f"query result: {why}")
    return bad
