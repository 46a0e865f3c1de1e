"""Seeded client sessions for the `serve` workload, and their DuckDB
answers.

A session is one Read, then 1-8 Ops, then one Action, in the wire
protocol's JSON (`Wire.scala`). Reads are parquet lineitem/orders/
customer or the reference-schema CSV; Ops are drawn from Filter, Select,
Join, GroupBy, Aggregation and OrderBy; the Action is Count, Take 20,
Collect of an aggregate, or CollectPage. Take and CollectPage run on
frames projected to their non-timestamp columns; the timestamp-encoding
defect is probed separately (see README.md).

The same session translates to DuckDB SQL, so Count, Collect-of-aggregate,
Take and CollectPage replies are checked against an independent engine.
"""

import math
import random

INT, FLOAT, STR, TS = "Int", "Float", "String", "Timestamp"

# name -> (source, columns {name: type}, group keys)
TABLES = {
    "lineitem": ("parquet", {
        "l_orderkey": INT, "l_partkey": INT, "l_suppkey": INT, "l_linenumber": INT,
        "l_quantity": FLOAT, "l_extendedprice": FLOAT, "l_discount": FLOAT, "l_tax": FLOAT,
        "l_returnflag": STR, "l_linestatus": STR, "l_shipdate": TS},
        ["l_returnflag", "l_linestatus", "l_linenumber"]),
    "orders": ("parquet", {
        "o_orderkey": INT, "o_custkey": INT, "o_orderstatus": STR, "o_totalprice": FLOAT,
        "o_orderdate": TS, "o_orderpriority": STR},
        ["o_orderstatus", "o_orderpriority"]),
    "customer": ("parquet", {
        "c_custkey": INT, "c_name": STR, "c_nationkey": INT, "c_acctbal": FLOAT,
        "c_mktsegment": STR},
        ["c_mktsegment", "c_nationkey"]),
    "lineitem_ref": ("csv", {
        "order_key": INT, "part_key": INT, "supplier_key": INT, "line_number": INT,
        "quantity": FLOAT, "extended_price": FLOAT, "discount": FLOAT, "tax": FLOAT,
        "return_flag": STR, "line_status": STR, "ship_date": STR, "commit_date": STR,
        "receipt_date": STR, "ship_instructions": STR, "ship_mode": STR, "comment": STR},
        ["return_flag", "line_status", "ship_mode"]),
}
# left table -> (right table, left key, right key)
JOINS = {"orders": ("customer", "o_custkey", "c_custkey"),
         "lineitem": ("orders", "l_orderkey", "o_orderkey")}
# numeric ranges filters draw thresholds from (fractions of the key
# ranges scale with the data's row counts)
RANGES = {"quantity": (1, 50), "extendedprice": (900, 105000), "extended_price": (900, 105000),
          "discount": (0, 0.1), "tax": (0, 0.08), "linenumber": (1, 7), "line_number": (1, 7),
          "totalprice": (1000, 500000), "acctbal": (-1000, 10000), "nationkey": (0, 24)}
CMPS = {"GreaterThan": ">", "LessThan": "<", "GreaterThanOrEq": ">=", "LessThanOrEq": "<="}
AGGS = {"Sum": "SUM", "Average": "AVG", "Count": "COUNT", "Max": "MAX", "Min": "MIN"}
ARITH = {"Add": "+", "Subtract": "-", "Multiply": "*"}


def _value(t, v):
    return {"Float": {"value": float(v), "phantom": None}} if t == FLOAT else {"Int": int(v)}


def _range(col):
    for suffix, r in RANGES.items():
        if col.endswith(suffix):
            return r
    return None


def read_request(table, data_dir):
    source, cols, _ = TABLES[table]
    path = f"{data_dir}/{table}.{'csv' if source == 'csv' else 'parquet'}"
    schema = [] if source == "parquet" else [
        {"name": n, "type_": t} for n, t in cols.items()]
    return {"Read": [source, path, {"columns": schema}]}


def _ranged(cols):
    return [c for c, t in cols.items() if t in (INT, FLOAT) and _range(c)]


def _filter(rng, cols, c=None):
    c = c or rng.choice(_ranged(cols))
    lo, hi = _range(c)
    v = lo + (hi - lo) * rng.uniform(0.3, 0.7)
    v = round(v, 2) if cols[c] == FLOAT else int(v)
    return {"Filter": [c, {"comparator": rng.choice(sorted(CMPS)), "value": _value(cols[c], v)}]}


# The request mix: one session of each shape (table, join, action) per
# cycle.
SHAPES = [
    ("lineitem", False, "Count"), ("lineitem", False, "Take"),
    ("lineitem", False, "CollectAgg"), ("lineitem", False, "CollectPage"),
    ("lineitem", True, "Count"), ("lineitem", False, "CollectGlobal"),
    ("orders", False, "Count"), ("orders", False, "Take"),
    ("orders", True, "CollectAgg"), ("orders", False, "CollectPage"),
    ("customer", False, "Count"), ("customer", False, "Take"),
    ("customer", False, "CollectAgg"),
    ("lineitem_ref", False, "Count"), ("lineitem_ref", False, "Take"),
    ("lineitem_ref", False, "CollectAgg"),
]


def make_session(rng, data_dir, shape):
    """One session of the given shape: {"read", "ops", "right", "action"}
    where ops are wire Op payloads and `right` is a Join's right-side
    lineage (its slot in the Join op is filled in when it runs)."""
    table, join, action = shape
    _, cols, keys = TABLES[table]
    cols, keys = dict(cols), list(keys)
    # up to four leading filters, each on its own column so that no two
    # contradict each other and empty a frame
    lead = _ranged(cols)
    ops = [_filter(rng, cols, c) for c in rng.sample(lead, min(len(lead), rng.randint(0, 4)))]
    right = None
    if join:
        rt, lk, rk = JOINS[table]
        rcols = TABLES[rt][1]
        right = [read_request(rt, data_dir)] + [_filter(rng, rcols) for _ in range(rng.randint(0, 1))]
        ops.append({"Join": [None, lk, rk]})
        cols.update(rcols)
        keys += TABLES[rt][2]
    numeric = [c for c, t in cols.items() if t in (INT, FLOAT)]
    if action in ("CollectAgg", "CollectGlobal"):
        nums = rng.sample(numeric, rng.randint(1, min(3, len(numeric))))
        if action == "CollectAgg":
            key = rng.choice(keys)
            nums = [n for n in nums if n != key] or [rng.choice([n for n in numeric if n != key])]
            ops += [{"Select": [{"Source": c} for c in [key] + nums]}, {"GroupBy": [key]}]
        else:
            ops.append({"Select": [{"Source": c} for c in nums]})
        ops.append({"Aggregation": {n: rng.choice(sorted(AGGS)) for n in nums}})
    else:
        if action != "Count" or rng.random() < 0.5:
            plain = [c for c, t in cols.items() if t != TS]
            keep = rng.sample(plain, rng.randint(2, min(5, len(plain))))
            exprs = [{"Source": c} for c in keep]
            nums = [c for c in keep if cols[c] in (INT, FLOAT)]
            if len(nums) >= 2 and rng.random() < 0.5:
                a, b = rng.sample(nums, 2)
                exprs.append({"Alias": ["derived", {"Operation": [
                    rng.choice(sorted(ARITH)), {"Source": a}, {"Source": b}]}]})
            ops.append({"Select": exprs})
            cols = {c: cols[c] for c in keep}
            ranged = [c for c in nums if _range(c)]
            if ranged and rng.random() < 0.3:
                ops.append(_filter(rng, {c: cols[c] for c in ranged}))
        if action == "CollectPage" or rng.random() < 0.3:
            ops.append({"OrderBy": [rng.choice(sorted(cols))]})
    if not ops:
        ops.append(_filter(rng, cols))
    return {"read": read_request(table, data_dir), "ops": ops, "right": right, "action": {
        "Count": "Count", "Take": {"Take": 20}, "CollectAgg": "Collect", "CollectGlobal": "Collect",
        "CollectPage": {"CollectPage": {"offset": rng.randint(0, 200), "limit": 20}}}[action]}


def session_pool(pool, data_dir):
    """One session of every shape, its filters, columns, aggregators and
    page offsets drawn from `pool`."""
    rng = random.Random(pool)
    return [make_session(rng, data_dir, shape) for shape in SHAPES]


def make_sessions(seed, cycles, data_dir, pool=1):
    """`cycles` passes over a fixed session pool, each pass in its own
    seed-drawn order: every seed issues the same requests in another
    interleaving, so whole cycles carry the same work."""
    base = session_pool(pool, data_dir)
    rng = random.Random(seed)
    return [s for _ in range(cycles) for s in rng.sample(base, len(base))]


# ---- DuckDB translation and checks ----

def _sql_lit(v):
    (t, x), = v.items()
    return repr(x["value"] if isinstance(x, dict) else x) if t in ("Float", "Int") else f"'{x}'"


def _sql_expr(e):
    (k, v), = e.items()
    if k == "Source":
        return f'"{v}"'
    if k == "Alias":
        return f'{_sql_expr(v[1])} AS "{v[0]}"'
    if k == "Operation":
        return f"({_sql_expr(v[1])} {ARITH[v[0]]} {_sql_expr(v[2])})"
    raise ValueError(f"column expression {k}")


def _sql_read(read):
    source, path, schema = read["Read"]
    if source == "parquet":
        return f"SELECT * FROM read_parquet('{path}')"
    types = {INT: "BIGINT", FLOAT: "DOUBLE", STR: "VARCHAR"}
    cols = ", ".join(f"'{c['name']}': '{types[c['type_']]}'" for c in schema["columns"])
    return f"SELECT * FROM read_csv('{path}', delim='|', header=false, columns={{{cols}}})"


def lineage_sql(lineage):
    """SQL for a lineage [Read, op, ...] (ops as wire Op payloads)."""
    q = _sql_read(lineage[0])
    group = None
    for op in lineage[1:]:
        (k, v), = op.items()
        if k == "Filter":
            q = f'SELECT * FROM ({q}) WHERE "{v[0]}" {CMPS[v[1]["comparator"]]} {_sql_lit(v[1]["value"])}'
        elif k == "Select":
            q = f"SELECT {', '.join(_sql_expr(e) for e in v)} FROM ({q})"
        elif k == "Join":
            q = f'SELECT * FROM ({q}) a JOIN ({lineage_sql(v[0])}) b ON a."{v[1]}" = b."{v[2]}"'
        elif k == "GroupBy":
            group = v
        elif k == "Aggregation":
            aggs = ", ".join(f'{AGGS[a]}("{c}") AS "{c}"' for c, a in v.items())
            if group:
                keys = ", ".join(f'"{g}"' for g in group)
                q = f"SELECT {keys}, {aggs} FROM ({q}) GROUP BY {keys} ORDER BY {keys}"
            else:
                q = f"SELECT {aggs} FROM ({q})"
            group = None
        elif k != "OrderBy":
            raise ValueError(f"op {k}")
    return q


def session_lineage(session):
    """The session's full lineage with the Join's right side filled in."""
    out = [session["read"]]
    for op in session["ops"]:
        if "Join" in op:
            op = {"Join": [session["right"]] + op["Join"][1:]}
        out.append(op)
    return out


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-6)
    return a == b


def check_reply(con, session, blocks):
    """None when the reply matches DuckDB's answer, else a reason."""
    q = lineage_sql(session_lineage(session))
    action = session["action"]
    if action == "Count":
        want = con.execute(f"SELECT COUNT(*) FROM ({q})").fetchone()[0]
        got = blocks["count"]["Int"][0]
        return None if got == want else f"count {got} != {want}"
    rows = {name: next(iter(b.values())) for name, b in blocks.items()}
    n = len(next(iter(rows.values()))) if rows else 0
    if action == "Collect":
        res = con.execute(q)
        names = [d[0] for d in res.description]
        want = res.fetchall()
        if n != len(want):
            return f"collect rows {n} != {len(want)}"
        for i, row in enumerate(want):
            for name, w in zip(names, row):
                if not _close(rows[name][i], float(w) if isinstance(w, float) else w):
                    return f"collect {name}[{i}] {rows[name][i]} != {w}"
        return None
    total = con.execute(f"SELECT COUNT(*) FROM ({q})").fetchone()[0]
    if "Take" in action:
        want = min(action["Take"], total)
    else:
        page = action["CollectPage"]
        want = max(0, min(page["limit"], total - page["offset"]))
    return None if n == want else f"rows {n} != {want}"
