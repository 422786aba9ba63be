"""Correctness check: every distinct result graft produced in a run is
hash-compared with DuckDB's answer to the same request over the same
parquet tables.

The comparison is `tools/oracle_check.py`'s: columns ordered by name, rows
sorted, strings compared as text, an int-vs-float type difference counted
as a mismatch. Floats compare after rounding to 6 decimals (half-even on
the exact binary value, as `Render` does on the JVM side), so each result
reduces to one hash.
"""
import hashlib
import json
import math
import os

import duckdb

# one SQL template per AutoAPI request shape; {name} fields are request
# parameters (quoted with `_q` where they are strings)
AUTOAPI_SQL = {
    "filterEq": """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment = {segment_q} AND c_nationkey = {nation}""",
    "filterRange": """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        WHERE o_totalprice >= {lo} AND o_totalprice <= {hi}
          AND o_orderdate >= TIMESTAMP {from_q} AND o_orderdate <= TIMESTAMP {to_q}""",
    "searchParsed": """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        WHERE lower({tag_col}) = {tag_val_q}
          AND (contains(lower(p_name), {free_q}) OR contains(lower(p_brand), {free_q})
               OR contains(lower(p_type), {free_q}))""",
    "orderPage": """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY {order_by} {dir}, o_orderkey ASC LIMIT {per_page} OFFSET {offset}""",
    "orderPageEnvelope": """WITH f AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
          WHERE o_orderpriority = {priority_q}),
        t AS (SELECT count(*) AS total FROM f)
        SELECT p.*, t.total, (t.total + {per_page} - 1) // {per_page} AS pages
        FROM (SELECT * FROM f ORDER BY {order_by} {dir}, o_orderkey ASC
              LIMIT {per_page} OFFSET {offset}) p, t""",
    "groupOptions": """SELECT DISTINCT {field} AS opt FROM {table}
        WHERE starts_with(lower({field}), {prefix_q}) ORDER BY opt LIMIT {limit}""",
    "recoverLinks": """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey >= {lo} AND o.o_custkey <= {hi}""",
    "recent": """SELECT event_id, ts, user_id, event_type, value FROM events
        WHERE event_type = {event_type_q} AND user_id < {max_user}
        ORDER BY ts DESC, event_id ASC LIMIT {n}""",
}


def _q(s):
    return "'" + str(s).replace("'", "''") + "'"


def autoapi_sql(req):
    """DuckDB SQL answering one AutoAPI request."""
    p = dict(req)
    for k, v in req.items():
        if isinstance(v, str):
            p[k + "_q"] = _q(v)
    if req["shape"] == "searchParsed":
        tag, free = req["search"].split(" ", 1)
        col, val = tag.split(":", 1)
        p.update(tag_col=col.lower(), tag_val_q=_q(val.lower()), free_q=_q(free.strip().lower()))
    if req["shape"] in ("orderPage", "orderPageEnvelope"):
        p.update(dir="ASC" if req["asc"] else "DESC", offset=req["page"] * req["per_page"])
    if req["shape"] == "groupOptions":
        p["prefix_q"] = _q(req["prefix"].lower())
    return AUTOAPI_SQL[req["shape"]].format(**p)


def render(v):
    """Canonical text of one value (the JVM harness renders the same way)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        s = f"{v:.6f}"
        return "0.000000" if s == "-0.000000" else s  # BigDecimal has no negative zero
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in list(v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def result_hash(cols, rows):
    """Hash of a result given its column names and rendered rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(r[i] for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(cols[i] for i in order).encode())
    h.update(("\n".join(lines)).encode())
    return h.hexdigest()


def query_hash(con, sql):
    """Hash of a DuckDB query's answer, rendered in Python."""
    rel = con.sql(sql)
    return result_hash(rel.columns, [[render(v) for v in row] for row in rel.fetchall()])


def table_hash(con, sql):
    """`query_hash` computed inside DuckDB, for corpus-sized results, with
    each column's type kind ("i" integer, "f" float, "o" other): both
    sides of a registered query's comparison render through the same SQL
    expressions, so only the rules must match, not the code."""
    rel = con.sql(sql)
    kinds = {c: _kind(str(t)) for c, t in zip(rel.columns, rel.types)}

    def text(c, t):
        ref = '"' + c.replace('"', '""') + '"'
        if t in ("DOUBLE", "FLOAT"):
            e = f"printf('%.6f', {ref})"
        elif t in ("DOUBLE[]", "FLOAT[]"):
            e = f"list_transform({ref}, x -> printf('%.6f', x))::VARCHAR"
        else:
            e = f"{ref}::VARCHAR"
        return f"coalesce({e}, '\\N')"
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = " || chr(31) || ".join(text(c, t) for c, t in cols)
    h = con.sql(f"SELECT md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
                f"FROM (SELECT {row} AS r FROM ({sql}))").fetchone()[0]
    return "|".join(c for c, _ in cols) + ":" + h, kinds


def _kind(type_name):
    t = type_name.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "f"
    return "i" if "INT" in t else "o"


def connect(data_dir, work_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = {_q(os.path.join(work_dir, 'duckdb_tmp'))}")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet({_q(os.path.join(data_dir, f))})")
    return con


def check_autoapi(con, plan, rows_file, wrong=()):
    """Failed call ids among the AutoAPI calls whose result was returned.
    `wrong` names call ids whose expected hash is deliberately corrupted."""
    got = {}
    with open(rows_file) as f:
        for line in f:
            r = json.loads(line)
            got[r["id"]] = result_hash(r["cols"], r["rows"])
    failed = set()
    for req in plan:
        if req["id"] not in got:
            continue
        expected = query_hash(con, autoapi_sql(req))
        if req["id"] in wrong:
            expected = "0" * 64
        if got[req["id"]] != expected:
            failed.add(req["id"])
    return failed


def check_queries(con, oracle_sql, calls, out_dir, wrong=()):
    """Failed call ids among registered-query calls: the parquet each call
    committed (`out_dir/p<pass>/<name>`, every pass) must hash like the
    oracle SQL's answer, which is computed once per query. `wrong` names
    call ids whose expected hash is deliberately corrupted."""
    expected, failed = {}, set()
    for c in calls:
        name = c["name"]
        path = os.path.join(out_dir, f"p{c['pass']}", name)
        if name not in oracle_sql or not os.path.isdir(path):
            failed.add(c["id"])
            continue
        if name not in expected:
            expected[name] = table_hash(con, oracle_sql[name])
        eh, ek = expected[name]
        gh, gk = table_hash(con, f"SELECT * FROM read_parquet({_q(path + '/*.parquet')})")
        int_float = any({gk.get(k), ek.get(k)} == {"i", "f"} for k in gk)
        if c["id"] in wrong or int_float or gh != eh:
            failed.add(c["id"])
    return failed
