"""Seeded inputs for the benchmark: parquet fixtures, the ETL project and
its incremental deltas.

Everything here is a pure function of the seed: the same seed
writes byte-identical files (tests/test_inputs.py checks this), so two
runs of one commit see the same inputs and two commits can be compared.

Layout under the output directory::

    fixtures/<table>.parquet       corpus tables (the repository's fixture schema)
    etl_src/<table>/part-00000.parquet   ETL copy sources at their base state
    deltas/<table>/part-<k>.parquet      delta k (new rows + ~1% updates)
    project/                       the graft project (project.yaml, tasks/, sql/)
    manifest.json                  expected SQL per produced object, task count
"""
import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table (the sf0.01 fixture sizes in TESTDATA.md).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "lineitem": 60000, "events": 10000, "documents": 500,
             "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

# Incremental deltas: new rows and updated existing keys, as shares of base.
DELTA_NEW = 0.005
DELTA_UPDATE = 0.01
MAX_DELTAS = 16
# Delta k is stamped DELTA_EPOCH + k days, and the pass that lands it runs
# with RunArguments.startDt = endDt = that day.
DELTA_EPOCH = dt.date(2024, 1, 1)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dec(values, precision=12, scale=2):
    """Exact decimals from 2-digit floats (ETL sums must not depend on
    summation order, so the ETL sources carry DECIMAL, not DOUBLE)."""
    from decimal import Decimal
    q = Decimal(1).scaleb(-scale)
    return pa.array([Decimal(repr(float(v))).quantize(q) for v in values],
                    pa.decimal128(precision, scale))


def _days(base, offsets):
    return pa.array([base + dt.timedelta(days=int(d)) for d in offsets], pa.date32())


# ---- corpus fixtures -------------------------------------------------------

def fixture_tables(seed):
    """The ten corpus tables with the fixtures' column names and
    types; values follow the same domains (TPC-H-ish star + events,
    documents, embeddings)."""
    n = ROWS
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    r = _rng(seed, 1)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})
    r = _rng(seed, 2)
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)]})
    r = _rng(seed, 3)
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})
    r = _rng(seed, 4)
    npt = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npt), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, npt), r.integers(0, 8, npt))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npt)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, npt)],
        "p_size": pa.array(r.integers(1, 51, npt), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, npt) / 10.0, 1)})
    r = _rng(seed, 5)
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000, 500000, no),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01") + r.integers(0, 2404, no).astype("timedelta64[D]"),
            pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)]})
    r = _rng(seed, 6)
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npt, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02") + r.integers(0, 2498, nl).astype("timedelta64[D]"),
            pa.timestamp("us"))})
    r = _rng(seed, 7)
    ne = n["events"]
    users = max(1, n["customer"] // 10)
    ts_us = np.sort(r.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, ne)]})
    r = _rng(seed, 8)
    nd = n["documents"]
    texts = [" ".join(WORDS[i] for i in r.integers(0, len(WORDS), k))
             for k in r.integers(10, 100, nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, 5, nd)],
        "source": [f"src{i}" for i in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    r = _rng(seed, 9)
    nv = n["embeddings"]
    v = r.normal(0, 1, (nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return t


# ---- ETL sources and deltas --------------------------------------------------

def _etl_base(fx, seed):
    """ETL copy sources derived from the fixtures: DECIMAL money, DATE
    days, a unique ``l_id`` line key and an ``updated_on`` watermark
    (base rows all strictly before DELTA_EPOCH)."""
    r = _rng(seed, 20)
    o, li = fx["orders"], fx["lineitem"]
    base_day = dt.date(2023, 1, 1)
    src = {
        "region": fx["region"],
        "nation": fx["nation"],
        "customer": fx["customer"].set_column(
            3, "c_acctbal", _dec(fx["customer"]["c_acctbal"].to_numpy())),
        "supplier": fx["supplier"].set_column(
            3, "s_acctbal", _dec(fx["supplier"]["s_acctbal"].to_numpy())),
        "part": fx["part"].set_column(
            5, "p_retailprice", _dec(fx["part"]["p_retailprice"].to_numpy())),
        "orders": pa.table({
            "o_orderkey": o["o_orderkey"], "o_custkey": o["o_custkey"],
            "o_orderstatus": o["o_orderstatus"],
            "o_totalprice": _dec(o["o_totalprice"].to_numpy()),
            "o_orderdate": o["o_orderdate"].cast(pa.date32()),
            "o_orderpriority": o["o_orderpriority"],
            "updated_on": _days(base_day, r.integers(0, 365, o.num_rows))}),
        "lineitem": pa.table({
            "l_id": pa.array(range(li.num_rows), pa.int64()),
            "l_orderkey": li["l_orderkey"], "l_partkey": li["l_partkey"],
            "l_suppkey": li["l_suppkey"],
            "l_quantity": li["l_quantity"].cast(pa.int32()),
            "l_extendedprice": _dec(li["l_extendedprice"].to_numpy()),
            "l_discount": _dec(li["l_discount"].to_numpy(), 4, 2),
            "l_returnflag": li["l_returnflag"],
            "l_linestatus": li["l_linestatus"],
            "l_shipdate": li["l_shipdate"].cast(pa.date32()),
            "updated_on": _days(base_day, r.integers(0, 365, li.num_rows))}),
        "events": pa.table({
            "event_id": fx["events"]["event_id"],
            "user_id": fx["events"]["user_id"],
            "event_type": fx["events"]["event_type"],
            "value": _dec(fx["events"]["value"].to_numpy(), 10, 2),
            "ts": fx["events"]["ts"]}),
    }
    return src


def _deltas(src, seed):
    """Delta k for orders/lineitem: DELTA_NEW new keys plus DELTA_UPDATE
    updates of base keys never updated before and strictly below the base
    watermark (so no key is ever extracted twice in one incremental copy);
    for events: DELTA_UPDATE new appended events. Every delta-k row is
    stamped ``updated_on = DELTA_EPOCH + k``."""
    r = _rng(seed, 30)
    out = {"orders": [], "lineitem": [], "events": []}
    spec = {"orders": ("o_orderkey", {"o_orderstatus": ("F", "O", "P")},
                       "o_totalprice"),
            "lineitem": ("l_id", {"l_returnflag": ("A", "N", "R"),
                                  "l_linestatus": ("F", "O")}, "l_extendedprice")}
    state = {}
    for name, (key, _, _) in spec.items():
        t = src[name]
        upd = np.array(t["updated_on"].cast(pa.int32()).to_numpy())
        eligible = np.flatnonzero(upd < upd.max())
        state[name] = {"next_key": t.num_rows, "pool": r.permutation(eligible)}
    next_event = src["events"].num_rows
    last_ts = src["events"]["ts"].cast(pa.int64()).to_numpy().max()
    for k in range(1, MAX_DELTAS + 1):
        day = DELTA_EPOCH + dt.timedelta(days=k)
        for name, (key, cats, money) in spec.items():
            t, st = src[name], state[name]
            n_upd = max(1, int(t.num_rows * DELTA_UPDATE))
            n_new = max(1, int(t.num_rows * DELTA_NEW))
            upd_idx, st["pool"] = st["pool"][:n_upd], st["pool"][n_upd:]
            rows = np.concatenate([np.sort(upd_idx),
                                   r.integers(0, t.num_rows, n_new)])
            d = t.take(pa.array(rows))
            keys = np.concatenate([np.asarray(t[key].take(pa.array(np.sort(upd_idx)))),
                                   np.arange(st["next_key"], st["next_key"] + n_new)])
            st["next_key"] += n_new
            d = d.set_column(d.schema.get_field_index(key), key, pa.array(keys, pa.int64()))
            for c, values in cats.items():
                d = d.set_column(d.schema.get_field_index(c), c,
                                 [values[i] for i in r.integers(0, len(values), len(rows))])
            scaled = np.round(np.asarray(d[money].cast(pa.float64())) *
                              r.uniform(0.5, 1.5, len(rows)), 2)
            d = d.set_column(d.schema.get_field_index(money), money,
                             _dec(scaled, d.schema.field(money).type.precision))
            d = d.set_column(d.schema.get_field_index("updated_on"), "updated_on",
                             pa.array([day] * len(rows), pa.date32()))
            out[name].append(d)
        n_ev = max(1, int(src["events"].num_rows * DELTA_UPDATE))
        ts = last_ts + np.sort(r.integers(1, 3600 * 10**6, n_ev))
        last_ts = ts.max()
        out["events"].append(pa.table({
            "event_id": pa.array(range(next_event, next_event + n_ev), pa.int64()),
            "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
            "value": _dec(np.round(r.exponential(50.0, n_ev), 2), 10, 2),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))}))
        next_event += n_ev
    return out


# ---- the graft project --------------------------------------------------------

class _Sql:
    """One model's SQL rendered twice from a single definition: as a graft
    template (``{{ src('etl.x') }}``) and as the benchmark's expected
    query over its own views (``exp__x``). The SQL sticks to what Spark
    and DuckDB read alike; the expected side runs in DuckDB."""

    def __init__(self, body):
        self.body = body

    def template(self):
        return self.body.replace("@", "{{ src('etl.").replace("#", "') }}")

    def expected(self):
        # the expected result is the full recompute: incremental filters go
        full = re.sub(r"\{% if not full_load %\}.*?\{% endif %\}", "", self.body, flags=re.S)
        return full.replace("@", "exp__").replace("#", "")


def _project():
    """Task specs: (group, name, cfg, sql, kind). ``kind`` tells the
    verifier how to build the expected result.

    Shape: copies (full, incremental, append) -> staging views ->
    incremental lineitem and orders models -> the lineitem model fans out
    to a table and a view, the orders model to a join table -> marts, one
    of which fans four inputs back in -> a report view, a script and two
    test tasks. Every materialisation and step kind the engine has
    appears at least once."""
    tasks = []

    def add(group, name, cfg, sql=None, kind="table"):
        tasks.append((group, name, cfg, sql, kind))

    copy_cols = {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderpriority", "updated_on"],
        "lineitem": ["l_id", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                     "l_extendedprice", "l_discount", "l_returnflag",
                     "l_linestatus", "l_shipdate", "updated_on"]}
    for t in ("nation", "customer", "supplier", "part"):
        add("load", f"load_{t}", {"type": "copy",
                                  "source": f"parquet:{{{{ src_dir }}}}/{t}",
                                  "destination": f"etl.{t}"}, kind="copy_full")
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_id")):
        add("load", f"load_{t}", {"type": "copy",
                                  "source": f"parquet:{{{{ src_dir }}}}/{t}",
                                  "destination": f"etl.{t}",
                                  "incremental_key": "updated_on",
                                  "delete_key": key},
            kind=("copy_inc", key, copy_cols[t]))
    add("load", "load_events", {"type": "copy",
                                "source": "parquet:{{ src_dir }}/events",
                                "destination": "etl.events",
                                "incremental_key": "event_id", "append": True},
        kind="copy_append")

    view = {"type": "autosql", "materialisation": "view"}
    table = {"type": "autosql", "materialisation": "table"}
    add("stg", "stg_customer", view, _Sql(
        "SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, n.n_name, n.n_regionkey\n"
        "FROM @customer# c JOIN @nation# n ON c.c_nationkey = n.n_nationkey"))
    add("stg", "stg_supplier", view, _Sql(
        "SELECT s.s_suppkey, n.n_name AS s_nation, n.n_regionkey AS s_region\n"
        "FROM @supplier# s JOIN @nation# n ON s.s_nationkey = n.n_nationkey"))
    add("stg", "stg_part", view, _Sql(
        "SELECT p_partkey, p_type, p_brand, p_size FROM @part#"))
    add("stg", "stg_events", view, _Sql(
        "SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS day\n"
        "FROM @events#"))

    # an incremental pass merges only the rows of the delta it landed
    inc_filter = ("{% if not full_load %}\nWHERE {a}.updated_on >= "
                  "DATE'{{ start_dt }}'\n{% endif %}")
    add("model", "li_enriched",
        {"type": "autosql", "materialisation": "incremental", "delete_key": "l_id",
         "columns": [{"name": "l_id", "tests": ["unique", "not_null"]},
                     {"name": "l_returnflag",
                      "tests": [{"allowed_values": ["A", "N", "R"]}]}]},
        _Sql("SELECT l.l_id, l.l_orderkey, l.l_quantity, l.l_extendedprice,\n"
             "  l.l_discount, l.l_returnflag, l.l_linestatus, l.l_shipdate,\n"
             "  l.updated_on, p.p_type, p.p_brand, s.s_nation, s.s_region\n"
             "FROM @lineitem# l JOIN @stg_part# p ON l.l_partkey = p.p_partkey\n"
             "JOIN @stg_supplier# s ON l.l_suppkey = s.s_suppkey\n"
             + inc_filter.replace("{a}", "l")),
        kind="incremental")
    add("model", "ord_enriched",
        {"type": "autosql", "materialisation": "incremental", "delete_key": "o_orderkey",
         "columns": [{"name": "o_orderkey", "tests": ["unique", "not_null"]},
                     {"name": "o_orderstatus",
                      "tests": [{"allowed_values": ["F", "O", "P"]}]}]},
        _Sql("SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,\n"
             "  o.o_orderdate, o.updated_on, c.c_mktsegment, c.n_name\n"
             "FROM @orders# o JOIN @stg_customer# c ON o.o_custkey = c.c_custkey\n"
             + inc_filter.replace("{a}", "o")),
        kind="incremental")
    add("model", "mart_type", table, _Sql(
        "SELECT p_type, count(*) AS n_lines, sum(l_quantity) AS qty,\n"
        "  sum(l_extendedprice) AS gross,\n"
        "  sum(l_extendedprice * (1 - l_discount)) AS net\n"
        "FROM @li_enriched# GROUP BY p_type"))
    add("model", "v_li_flags", view, _Sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n_lines,\n"
        "  sum(l_extendedprice) AS gross\n"
        "FROM @li_enriched# GROUP BY l_returnflag, l_linestatus"))
    add("model", "ord_lines", table, _Sql(
        "SELECT o.o_orderkey, o.c_mktsegment, o.o_totalprice,\n"
        "  count(l.l_id) AS n_lines, sum(l.l_extendedprice) AS line_gross\n"
        "FROM @ord_enriched# o LEFT JOIN @lineitem# l ON o.o_orderkey = l.l_orderkey\n"
        "GROUP BY o.o_orderkey, o.c_mktsegment, o.o_totalprice"))

    add("mart", "mart_order_size", table, _Sql(
        "SELECT c_mktsegment, n_lines, count(*) AS n_orders,\n"
        "  sum(line_gross) AS line_gross\n"
        "FROM @ord_lines# GROUP BY c_mktsegment, n_lines"))
    add("mart", "ev_daily", table, _Sql(
        "SELECT day, event_type, count(*) AS n_events,\n"
        "  count(DISTINCT user_id) AS n_users, sum(value) AS value\n"
        "FROM @stg_events# GROUP BY day, event_type"))
    add("mart", "mart_overview", table, _Sql(
        "SELECT t.n_lines, t.net, f.n_flag_groups, o.n_orders, e.n_events, e.value\n"
        "FROM (SELECT sum(n_lines) AS n_lines, sum(net) AS net FROM @mart_type#) t\n"
        "CROSS JOIN (SELECT count(*) AS n_flag_groups FROM @v_li_flags#) f\n"
        "CROSS JOIN (SELECT sum(n_orders) AS n_orders FROM @mart_order_size#) o\n"
        "CROSS JOIN (SELECT sum(n_events) AS n_events, sum(value) AS value\n"
        "  FROM @ev_daily#) e"))
    add("report", "rpt_type_rank", view, _Sql(
        "SELECT p_type, net, rank() OVER (ORDER BY net DESC) AS net_rank FROM @mart_type#"))
    top = "SELECT p_type, net FROM @mart_type# ORDER BY net DESC LIMIT 3"
    add("report", "snap_top_types", {"type": "sql"}, _Sql(
        "DROP TABLE IF EXISTS {{ out('etl.snap_top_types') }};\n"
        "CREATE TABLE {{ out('etl.snap_top_types') }} USING parquet AS\n" + top),
        kind=("script", top))
    # custom-SQL tests compile only at run time, so their lineage is explicit
    add("report", "test_no_negative_qty", {"type": "test", "parents": ["mart_type"]}, _Sql(
        "SELECT * FROM @mart_type# WHERE qty < 0 OR n_lines <= 0"), kind="test")
    add("report", "test_flags_cover_lines",
        {"type": "test", "parents": ["v_li_flags", "mart_type"]}, _Sql(
            "SELECT * FROM (SELECT sum(n_lines) AS a FROM @v_li_flags#) f\n"
            "CROSS JOIN (SELECT sum(n_lines) AS b FROM @mart_type#) t WHERE a <> b"),
        kind="test")
    return tasks


def _dump(obj):
    # JSON is a YAML subset; sorted keys keep the bytes seed-stable.
    return json.dumps(obj, indent=2, sort_keys=True) + "\n"


def _files(table):
    return f"read_parquet('${{src_dir}}/{table}/*.parquet')"


def write_project(out_dir):
    """The graft project plus the manifest of expected results. Copy
    sources read ``{{ src_dir }}``, a project parameter the benchmark sets
    through ``GRAFT_PARAMETER_SRC_DIR``, so the files carry no path."""
    proj = os.path.join(out_dir, "project")
    os.makedirs(os.path.join(proj, "tasks"), exist_ok=True)
    os.makedirs(os.path.join(proj, "sql"), exist_ok=True)
    with open(os.path.join(proj, "project.yaml"), "w") as f:
        f.write(_dump({"default_db": "spark", "parameters": {"src_dir": "unset"}}))
    groups, expected = {}, {}
    for group, name, cfg, sql, kind in _project():
        cfg = dict(cfg)
        if sql is not None:
            cfg["file_name"] = f"{name}.sql"
            with open(os.path.join(proj, "sql", f"{name}.sql"), "w") as f:
                f.write(sql.template() + "\n")
        if cfg["type"] != "test":
            cfg.setdefault("destination", f"etl.{name}")
        groups.setdefault(group, {})[name] = cfg
        if kind == "test":
            continue
        if cfg.get("materialisation") == "view":
            kind = "view"
        obj = cfg["destination"].split(".", 1)[1]
        if kind == "copy_full":
            exp = {"kind": "copy_full", "sql": f"SELECT * FROM {_files(obj)}"}
        elif kind == "copy_append":
            exp = {"kind": "copy_append", "key": "event_id",
                   "sql": f"SELECT * FROM {_files(obj)}"}
        elif isinstance(kind, tuple) and kind[0] == "copy_inc":
            _, key, cols = kind
            exp = {"kind": "copy_inc", "sql": (
                f"SELECT {', '.join(cols)} FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {key} ORDER BY updated_on DESC) AS _rn "
                f"FROM {_files(obj)}) WHERE _rn = 1")}
        elif isinstance(kind, tuple) and kind[0] == "script":
            exp = {"kind": "script", "sql": _Sql(kind[1]).expected()}
        else:
            exp = {"kind": kind, "sql": sql.expected()}
        exp["task"] = name
        expected[obj] = exp
    for group, tasks in groups.items():
        with open(os.path.join(proj, "tasks", f"{group}.yaml"), "w") as f:
            f.write(_dump({"tasks": tasks}))
    n_tasks = sum(len(t) for t in groups.values())
    return expected, n_tasks


def generate(out_dir, seed):
    """Write every input for one run; returns the manifest dict."""
    fx = fixture_tables(seed)
    for name, table in fx.items():
        _write(table, os.path.join(out_dir, "fixtures", f"{name}.parquet"))
    src = _etl_base(fx, seed)
    for name, table in src.items():
        _write(table, os.path.join(out_dir, "etl_src", name, "part-00000.parquet"))
    deltas = _deltas(src, seed)
    boundaries = []  # the append copy's watermark before each delta
    last = src["events"].num_rows - 1
    for k in range(MAX_DELTAS):
        for name, ds in deltas.items():
            _write(ds[k], os.path.join(out_dir, "deltas", name, f"part-{k + 1:05d}.parquet"))
        boundaries.append(last)
        last += deltas["events"][k].num_rows
    expected, n_tasks = write_project(out_dir)
    manifest = {"seed": seed, "delta_epoch": DELTA_EPOCH.isoformat(),
                "n_tasks": n_tasks, "n_deltas": MAX_DELTAS,
                "delta_tables": sorted(deltas),
                "append_boundaries": boundaries, "expected": expected}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        f.write(_dump(manifest))
    return manifest


def sample_entries(pool, seed, n):
    """Seeded sample of ``n`` corpus entries, stratified by query file and
    by cost: each file gets its proportional share of ``n`` (largest
    remainder); a file's entries, ordered by calibrated cost, are cut into
    that many equal cost bands and the seed draws one entry per band. So
    every seed runs about the same amount of work from every file.
    Returned sorted by name, the fixed order the benchmark runs them in."""
    by_file = {}
    for e in sorted(pool, key=lambda e: (e["cost_ms"], e["name"])):
        by_file.setdefault(e["family"], []).append(e["name"])
    files = sorted(by_file)
    n = min(n, len(pool))
    quota = {f: n * len(by_file[f]) / len(pool) for f in files}
    take = {f: int(quota[f]) for f in files}
    for f in sorted(files, key=lambda f: (-(quota[f] - take[f]), f))[:n - sum(take.values())]:
        take[f] += 1
    r = _rng(seed, 40)
    chosen = []
    for f in files:
        for band in np.array_split(np.array(by_file[f]), take[f]) if take[f] else []:
            chosen.append(str(band[r.integers(0, len(band))]))
    return sorted(chosen)
