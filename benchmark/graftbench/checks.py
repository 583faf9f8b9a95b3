"""Correctness checks, run in DuckDB so they share no code with graft.

- ETL: every table the project produced, read straight from its parquet
  files in the warehouse, against the same SELECT run over the copy-source
  files (row count plus an order-independent hash sum).
- Corpus: each sampled entry's Spark output against its DuckDB oracle over
  the same generated fixtures, in the canonical form of the repository's
  ``scripts/check_oracle.py`` (columns by name, values as text, rows
  sorted).
"""
import glob
import importlib.util
import os
import threading
import time

import duckdb
import pandas as pd

NULL_MARK = "<null>"


def digest(con, sql):
    """``(columns, rows, hash_sum)`` of a relation: the sorted column
    names (engine ``_graft*`` columns left out: they are not a function of
    the inputs), the row count, and the sum of a per-row hash over every
    column as text with NULL spelled out, so row order does not matter
    and a value moving between columns does."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description
                  if not d[0].startswith("_graft"))
    cells = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '{NULL_MARK}')" for c in cols)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {cells}))), 0) "
                       f"FROM ({sql})").fetchone()
    return cols, n, int(h)


def etl(work, schema, manifest, applied):
    """``{object: None | reason}`` for every table the project produces
    (views are covered through the tables that read them). The expected
    side is the full recompute over the copy sources with every delta
    landed so far, so an incremental result must equal it; the append
    copy's expectation adds the rows its ``>=`` watermark re-appends once
    per incremental pass."""
    src = os.path.join(work, "etl_src")
    tables = os.path.join(work, "warehouse", f"{schema}.db")
    bounds = ", ".join(str(b) for b in manifest["append_boundaries"][:applied])
    expected = manifest["expected"]

    def sql_of(e):
        base = e["sql"].replace("${src_dir}", src)
        if e["kind"] == "copy_append" and bounds:
            base = f"{base} UNION ALL {base} WHERE {e['key']} IN ({bounds})"
        return base

    con = duckdb.connect()
    pending = sorted(expected)
    while pending:  # create views in dependency order
        left = []
        for obj in pending:
            try:
                con.execute(f"CREATE VIEW exp__{obj} AS {sql_of(expected[obj])}")
            except duckdb.CatalogException:
                left.append(obj)
        if len(left) == len(pending):
            raise RuntimeError(f"unresolvable expected views: {left}")
        pending = left
    out = {}
    for obj in sorted(o for o, e in expected.items() if e["kind"] != "view"):
        try:
            got = digest(con, f"SELECT * FROM read_parquet('{tables}/{obj}/*.parquet')")
            want = digest(con, f"SELECT * FROM exp__{obj}")
            out[obj] = None if got == want else f"{got} != {want}"
        except duckdb.Error as e:
            out[obj] = f"error: {e}"[:300]
    con.close()
    return out


def _canon_module(root):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus(root, fixtures_dir, check_dir, oracle_sql, timeout_s=60, seconds=None):
    """``{entry: None | reason}`` for every entry in ``oracle_sql``;
    ``None`` means the outputs match. An oracle query running longer than
    ``timeout_s`` is interrupted and counts as a mismatch. ``seconds``, if
    given, receives each entry's check time."""
    mod = _canon_module(root)
    con = duckdb.connect()
    for t in mod.TABLES:
        p = os.path.join(fixtures_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            out[name] = "no spark output"
            continue
        t0 = time.perf_counter()
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            out[name] = f"error: {e}"[:300]
            continue
        finally:
            timer.cancel()
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            out[name] = "columns differ"
            continue
        s, d = mod.canon(spark_df), mod.canon(duck_df)
        out[name] = None if s == d else f"rows differ ({len(s)} vs {len(d)})"
        if seconds is not None:
            seconds[name] = time.perf_counter() - t0
    con.close()
    return out
