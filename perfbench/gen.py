"""Seeded inputs, DuckDB twins and run plans for the two workloads.

Everything here is a pure function of (workload, seed): the same seed
gives byte-identical inputs. Tables are TPC-H shaped and generated with
DuckDB from `hash(row, seed, column)`; the curation corpus comes from
the harness's `GenDocs` (graft.tools.ZipfText words). Expected outputs
("twins") are computed with DuckDB from the generator's own tables, so
graft is checked against an independent engine.
"""
import datetime
import decimal
import hashlib
import json
import os
import random

import duckdb

_HERE = os.path.dirname(os.path.abspath(__file__))


def _version():
    h = hashlib.sha256()
    for f in (__file__, os.path.join(_HERE, "src", "perfbench", "GenDocs.scala")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


# inputs are cached per (workload, seed, generator version)
VERSION = _version()
# sf0.01-shaped interactive tables
N_CUSTOMER, N_ORDERS, N_LINEITEM = 1500, 15000, 60000
# curation_pipeline: base documents; planted exact and near duplicates
DOCS_BASE = 2500
DUP_SHARE = 0.10
# interactive_api: open-loop arrival rate, calibrated once and frozen.
# One client calling the deck back to back averaged 535 ms a call on a
# 4-core box (1.87 calls/s); 0.9/s is about half of that, and deals
# exactly two 9-call decks in a 20 s run.
RATE_PER_S = 0.9

MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
MODES = ["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"]
WORDS = ["carefully", "final", "deposits", "furiously", "regular", "ideas",
         "quickly", "express", "packages", "blithely", "pending", "requests"]


def connect(work):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET threads=2; SET temp_directory='{tmp}'; SET memory_limit='1GB'")
    return con


def _pick(lst, h):
    return "[" + ",".join(f"'{x}'" for x in lst) + f"][1 + ({h} % {len(lst)})::INT]"


def _words(seed, col, n):
    parts = [_pick(WORDS, f"hash(i, {seed}, {col}, {k})") for k in range(n)]
    return " || ' ' || ".join(parts)


def make_tables(con, seed):
    s = seed
    con.execute(f"""
    CREATE OR REPLACE TABLE customer AS SELECT
      i::BIGINT AS c_custkey,
      'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
      'addr ' || (hash(i, {s}, 1) % 100000)::VARCHAR AS c_address,
      (hash(i, {s}, 2) % 25)::INT AS c_nationkey,
      CASE WHEN hash(i, {s}, 3) % 20 = 0 THEN NULL ELSE
        lpad((10 + hash(i, {s}, 2) % 25)::VARCHAR, 2, '0') || '-' ||
        lpad((hash(i, {s}, 4) % 1000)::VARCHAR, 3, '0') || '-' ||
        lpad((hash(i, {s}, 5) % 10000)::VARCHAR, 4, '0') END AS c_phone,
      (((hash(i, {s}, 6) % 1100000)::BIGINT - 100000) / 100)::DECIMAL(15,2) AS c_acctbal,
      {_pick(MKT, f"hash(i, {s}, 7)")} AS c_mktsegment,
      CASE WHEN hash(i, {s}, 8) % 10 = 0 THEN NULL ELSE {_words(s, 9, 4)} END AS c_comment
    FROM range(1, {N_CUSTOMER + 1}) t(i)""")
    con.execute(f"""
    CREATE OR REPLACE TABLE orders AS SELECT
      i::BIGINT AS o_orderkey,
      (1 + hash(i, {s}, 11) % {N_CUSTOMER})::BIGINT AS o_custkey,
      {_pick(["F", "O", "P"], f"hash(i, {s}, 12)")} AS o_orderstatus,
      (((hash(i, {s}, 13) % 50000000) + 100000) / 100)::DECIMAL(15,2) AS o_totalprice,
      DATE '1992-01-01' + (hash(i, {s}, 14) % 2400)::INT AS o_orderdate,
      {_pick(PRIO, f"hash(i, {s}, 15)")} AS o_orderpriority,
      'Clerk#' || lpad((hash(i, {s}, 16) % 1000)::VARCHAR, 9, '0') AS o_clerk,
      0::BIGINT AS o_shippriority,
      {_words(s, 17, 5)} AS o_comment
    FROM range(1, {N_ORDERS + 1}) t(i)""")
    # l_shipmode carries stray padding on some rows
    con.execute(f"""
    CREATE OR REPLACE TABLE lineitem AS SELECT
      (1 + (i - 1) // 4)::BIGINT AS l_orderkey,
      (1 + hash(i, {s}, 21) % 2000)::BIGINT AS l_partkey,
      (1 + hash(i, {s}, 22) % 100)::BIGINT AS l_suppkey,
      (1 + (i - 1) % 4)::INT AS l_linenumber,
      (1 + hash(i, {s}, 23) % 50)::DECIMAL(15,2) AS l_quantity,
      (((hash(i, {s}, 24) % 10000000) + 90000) / 100)::DECIMAL(15,2) AS l_extendedprice,
      ((hash(i, {s}, 25) % 11) / 100)::DECIMAL(15,2) AS l_discount,
      ((hash(i, {s}, 26) % 9) / 100)::DECIMAL(15,2) AS l_tax,
      {_pick(["A", "N", "R"], f"hash(i, {s}, 27)")} AS l_returnflag,
      {_pick(["F", "O"], f"hash(i, {s}, 28)")} AS l_linestatus,
      DATE '1992-01-02' + (hash(i, {s}, 29) % 2500)::INT AS l_shipdate,
      DATE '1992-01-02' + (hash(i, {s}, 29) % 2500)::INT + (hash(i, {s}, 30) % 60)::INT - 30 AS l_commitdate,
      DATE '1992-01-02' + (hash(i, {s}, 29) % 2500)::INT + 1 + (hash(i, {s}, 31) % 30)::INT AS l_receiptdate,
      {_pick(INSTRUCT, f"hash(i, {s}, 32)")} AS l_shipinstruct,
      CASE WHEN hash(i, {s}, 33) % 8 = 0 THEN '  ' || {_pick(MODES, f"hash(i, {s}, 34)")} || ' '
           ELSE {_pick(MODES, f"hash(i, {s}, 34)")} END AS l_shipmode,
      {_words(s, 35, 4)} AS l_comment
    FROM range(1, {N_LINEITEM + 1}) t(i)""")


# ---------------------------------------------------------------- canonical rows

Q6 = decimal.Decimal("0.000001")


def canon_value(v):
    """Text form of one value; mirrors perfbench.Canon on the JVM side."""
    if v is None:
        return "\\N"
    if isinstance(v, (float, decimal.Decimal)):
        d = decimal.Decimal(v).quantize(Q6, rounding=decimal.ROUND_HALF_EVEN)
        return "0" if d == 0 else format(d.normalize(), "f")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def canon_rows(cur):
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda k: names[k])
    return ["\u0001".join(f"{names[k]}={canon_value(r[k])}" for k in order)
            for r in cur.fetchall()]


def row_hash(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:16]


def canon_sql(kinds):
    """Order-independent (count, hash) of a relation, same SQL for a twin
    and for a sink read back from disk: columns sorted by name, numbers
    as DECIMAL(38,6), everything else as text."""
    parts = []
    for name in sorted(kinds):
        c = f'"{name}"'
        if kinds[name] == "num":
            e = f"CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR)"
        else:
            e = f"CAST({c} AS VARCHAR)"
        parts.append(f"coalesce({e}, '\\N')")
    return "hash(concat_ws('|', " + ", ".join(parts) + "))"


def digest(con, relation, kinds):
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({canon_sql(kinds)}), 0)::VARCHAR FROM {relation}").fetchone()
    return {"rows": int(n), "hash": h}


def kinds_of(con, relation):
    out = {}
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall():
        t = typ.upper()
        out[name] = "num" if (t.startswith("DECIMAL") or t in (
            "BIGINT", "INTEGER", "HUGEINT", "DOUBLE", "SMALLINT", "TINYINT", "FLOAT")) else "str"
    return out


# ---------------------------------------------------------------- interactive_api

def _interactive_deck(d):
    """The call mix, in schedule order: one entry per (call, input shape),
    each a function rng -> (kind, variant, args, rows_in) that draws its
    literals from the seed. A schedule repeats the deck, so every run
    issues the same calls on the same inputs in the same order and only
    the literals vary: which call overlaps the long quality-score call
    is fixed, not a property of the seed."""
    files = {
        "customer.csv": (f"{d}/customer.csv", "csv", ["c_custkey"], N_CUSTOMER),
        "orders.json": (f"{d}/orders.json", "json", ["o_orderkey"], N_ORDERS),
        "lineitem.parquet": (f"{d}/lineitem.parquet", "parquet", ["l_orderkey", "l_linenumber"],
                             N_LINEITEM),
    }
    dates = ["1993-06-30", "1994-01-01", "1994-09-15", "1995-03-31",
             "1995-12-01", "1996-06-30", "1997-01-01", "1997-08-15"]

    def preview(f):
        def call(rng):
            limit = rng.choice([20, 50, 100, 200])
            path, fmt, keys, n = files[f]
            return ("preview", f"preview:{f}:{limit}",
                    {"path": path, "format": fmt, "limit": limit, "order_by": keys}, n)
        return call

    def infer(f):
        def call(rng):
            path, fmt, keys, n = files[f]
            return "infer_schema", f"infer_schema:{f}", {"path": path, "format": fmt}, n
        return call

    def sql_join(rng):
        q = ("SELECT c.c_mktsegment AS segment, count(*) AS orders, "
             "sum(CAST(o.o_totalprice AS DECIMAL(15,2))) AS revenue "
             "FROM {{c}} c JOIN {{o}} o ON c.c_custkey = o.o_custkey "
             f"WHERE CAST(o.o_orderdate AS DATE) >= DATE '{rng.choice(dates)}' "
             "GROUP BY c.c_mktsegment ORDER BY segment")
        src = {"c": [f"{d}/customer.csv", "csv"], "o": [f"{d}/orders.json", "json"]}
        return "execute_sql", f"execute_sql:{q}", {"sql": q, "sources": src}, N_CUSTOMER + N_ORDERS

    def sql_agg(rng):
        q = ("SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n, "
             "sum(l_quantity) AS qty, sum(l_extendedprice) AS price FROM {{l}} "
             f"WHERE l_shipdate <= DATE '{rng.choice(dates)}' "
             f"AND l_discount >= {rng.choice(['0.00', '0.02', '0.04', '0.06'])} "
             "GROUP BY l_returnflag, l_linestatus ORDER BY rf, ls")
        src = {"l": [f"{d}/lineitem.parquet", "parquet"]}
        return "execute_sql", f"execute_sql:{q}", {"sql": q, "sources": src}, N_LINEITEM

    def transforms(rng):
        x = rng.choice([100000, 150000, 200000, 250000])
        steps = [{"op": "filter_rows", "expression": f"o_totalprice > {x}"},
                 {"op": "add_derived_column", "name": "o_year", "expression": "year(o_orderdate)"},
                 {"op": "replace_text", "column": "o_orderpriority", "find": "-", "replace": "_"},
                 {"op": "cast_type", "column": "o_custkey", "target_type": "string"}]
        return ("apply_transforms", f"apply_transforms:{x}",
                {"path": f"{d}/orders.parquet", "format": "parquet", "steps": steps}, N_ORDERS)

    def quality(f, n):
        def call(rng):
            return ("quality_score", f"quality_score:{f}",
                    {"path": f"{d}/{f}", "format": f.split(".")[1]}, n)
        return call

    def export(rng):
        k = rng.randrange(25)
        steps = [{"op": "filter_rows", "expression": f"c_nationkey = {k}"},
                 {"op": "add_derived_column", "name": "c_bal2", "expression": "c_acctbal * 2"}]
        return ("export", f"export:{k}",
                {"path": f"{d}/customer.parquet", "format": "parquet", "steps": steps}, N_CUSTOMER)

    return [preview("customer.csv"), sql_join, preview("lineitem.parquet"), export, sql_agg,
            preview("orders.json"), transforms, quality("customer.csv", N_CUSTOMER),
            infer("customer.csv")]


def _twin(con, kind, args):
    """Expected output of one interactive call, from the base tables."""
    table = {"customer": "customer", "orders": "orders", "lineitem": "lineitem"}
    if kind == "preview":
        t = os.path.basename(args["path"]).split(".")[0]
        cur = con.execute(f"SELECT * FROM {table[t]} ORDER BY {', '.join(args['order_by'])} "
                          f"LIMIT {args['limit']}")
        rows = canon_rows(cur)
        total = con.execute(f"SELECT count(*) FROM {table[t]}").fetchone()[0]
        return {"total": total, "rows": rows}
    if kind == "infer_schema":
        t = os.path.basename(args["path"]).split(".")[0]
        cols = [r[0] for r in con.execute(f"DESCRIBE {table[t]}").fetchall()]
        return {"columns": sorted(cols)}
    if kind == "execute_sql":
        q = (args["sql"].replace("{{c}}", "customer").replace("{{o}}", "orders")
             .replace("{{l}}", "lineitem"))
        return {"rows": canon_rows(con.execute(q))}
    if kind == "apply_transforms":
        x = args["steps"][0]["expression"].split(">")[1].strip()
        cur = con.execute(
            "SELECT * REPLACE (replace(o_orderpriority, '-', '_') AS o_orderpriority, "
            "CAST(o_custkey AS VARCHAR) AS o_custkey), year(o_orderdate) AS o_year "
            f"FROM orders WHERE o_totalprice > {x}")
        rows = canon_rows(cur)
        return {"total": len(rows), "hashes": sorted({row_hash(r) for r in rows})}
    if kind == "quality_score":
        t = os.path.basename(args["path"]).split(".")[0]
        cols = [r[0] for r in con.execute(f"DESCRIBE {table[t]}").fetchall()]
        total = con.execute(f"SELECT count(*) FROM {table[t]}").fetchone()[0]
        out = {}
        for c in cols:
            nn, dist = con.execute(f'SELECT count("{c}"), count(DISTINCT "{c}") FROM {table[t]}').fetchone()
            out[c] = [(total - nn) / total, dist / total]
        return {"total": total, "columns": out}
    if kind == "export":
        k = args["steps"][0]["expression"].split("=")[1].strip()
        rel = f"(SELECT *, c_acctbal * 2 AS c_bal2 FROM customer WHERE c_nationkey = {k})"
        return digest(con, rel, kinds_of(con, rel))
    raise ValueError(kind)


def interactive(work, seed, seconds):
    d = os.path.join(work, "data", f"interactive_api-s{seed}-{VERSION}")
    if not os.path.exists(os.path.join(d, "done")):
        os.makedirs(d, exist_ok=True)
        con = connect(work)
        make_tables(con, seed)
        con.execute(f"COPY customer TO '{d}/customer.csv' (HEADER)")
        con.execute(f"COPY customer TO '{d}/customer.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY orders TO '{d}/orders.json' (FORMAT JSON)")
        con.execute(f"COPY orders TO '{d}/orders.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY lineitem TO '{d}/lineitem.parquet' (FORMAT PARQUET)")
        con.close()
        open(os.path.join(d, "done"), "w").close()
    # the schedule and its twins depend on the run length too; they are
    # cheap next to the tables and cached per (seed, seconds)
    sched = os.path.join(d, f"schedule-{seconds:g}.json")
    if not os.path.exists(sched):
        deck = _interactive_deck(d)
        # evenly spaced arrivals, the deck over and over
        rng = random.Random(seed)
        period = 1000.0 / RATE_PER_S
        calls = []
        t = period / 2
        while t < seconds * 1000.0:
            kind, variant, args, rows_in = deck[len(calls) % len(deck)](rng)
            calls.append({"seq": len(calls), "due_ms": t, "kind": kind, "variant": variant,
                          "args": args, "rows_in": rows_in})
            t += period
        # set-up warm-up: each call once, over csv, json and parquet
        # inputs; JIT conditioning: one deck. Both with literals of their own.
        wrng = random.Random(seed + 7919)
        warm = [deck[k](wrng) for k in (0, 1, 3, 6, 7, 8)]
        condition = [entry(wrng) for entry in deck]
        warm, condition = ([{"kind": k, "variant": v, "args": a, "rows_in": n} for k, v, a, n in cs]
                           for cs in (warm, condition))
        con = connect(work)
        make_tables(con, seed)
        expect = {}
        for c in calls + warm + condition:
            if c["variant"] not in expect:
                expect[c["variant"]] = _twin(con, c["kind"], c["args"])
        con.close()
        with open(sched, "w") as f:
            json.dump({"calls": calls, "warmup": warm, "condition": condition,
                       "expect": expect}, f)
    with open(sched) as f:
        return json.load(f)


# ---------------------------------------------------------------- curation_pipeline

def curation_dag(inp, out_tag):
    nodes = [
        {"id": "in", "type": "file_input", "data": {"config": {"path": inp, "format": "parquet"}}},
        {"id": "exact", "type": "exact_dedup", "data": {"config": {"id_column": "id", "column": "text"}}},
        {"id": "near", "type": "minhash_dedup",
         "data": {"config": {"id_column": "id", "column": "text", "threshold": 0.7}}},
        {"id": "lines", "type": "line_dedup",
         "data": {"config": {"id_column": "id", "column": "text", "min_docs": 20}}},
        {"id": "quality", "type": "gopher_filter",
         "data": {"config": {"column": "clean_text", "min_tokens": 20}}},
        {"id": "pii", "type": "pii_redact", "data": {"config": {"column": "clean_text"}}},
        {"id": "out", "type": "file_output",
         "data": {"config": {"path": f"{out_tag}/docs", "format": "parquet"}}},
    ]
    order = [n["id"] for n in nodes]
    return json.dumps({"nodes": nodes, "edges": [{"source": a, "target": b}
                                                 for a, b in zip(order, order[1:])]})


def curation(work, seed, runner):
    d = os.path.join(work, "data", f"curation_pipeline-s{seed}-{VERSION}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(d, exist_ok=True)
        con = connect(work)
        dups = int(DOCS_BASE * DUP_SHARE)
        runner(["perfbench.GenDocs", f"{d}/docs.jsonl", f"{d}/docs.truth.json",
                str(seed), str(DOCS_BASE), str(dups), str(dups)])
        con.execute(f"COPY (SELECT id, url, text FROM read_json('{d}/docs.jsonl', "
                    "columns={id: 'BIGINT', url: 'VARCHAR', text: 'VARCHAR'}, format='newline_delimited') "
                    f"ORDER BY id) TO '{d}/docs.parquet' (FORMAT PARQUET)")
        os.remove(f"{d}/docs.jsonl")
        con.close()
        with open(f"{d}/docs.truth.json") as f:
            truth = json.load(f)
        with open(meta_path, "w") as f:
            json.dump({"rows_in": truth["docs"], "truth": truth}, f)
    with open(meta_path) as f:
        meta = json.load(f)
    return {"dag": curation_dag(f"{d}/docs.parquet", "{OUT}"),
            "rows_in": meta["rows_in"], "exact_node": "exact",
            "exact_kept": meta["truth"]["exact_kept"], "meta": meta}
