"""The `serve` workload: seeded sessions against GraftServer over HTTP.

A session is one Read of the seeded lineitem CSV, then d in [1, 16] Op
calls (Select with arithmetic, Filter, OrderBy, GroupBy + Aggregation),
then one action: Collect after an aggregate, otherwise Take or Count.
The CSV rows and the order of the sessions come from the run seed, the
sessions themselves from `MIX_SEED`; the server receives nothing else.
Every action's response is checked against DuckDB run over the same
CSV.
"""
import http.client
import json
import math
import queue
import random
import subprocess
import threading
import time

# The reference client's lineitem schema (16 columns, `|`-delimited).
COLUMNS = [
    ("order_key", "Int"), ("part_key", "Int"), ("supplier_key", "Int"),
    ("line_number", "Int"), ("quantity", "Float"), ("extended_price", "Float"),
    ("discount", "Float"), ("tax", "Float"), ("return_flag", "String"),
    ("line_status", "String"), ("ship_date", "String"), ("commit_date", "String"),
    ("receipt_date", "String"), ("ship_instructions", "String"),
    ("ship_mode", "String"), ("comment", "String"),
]
DOMAINS = {
    "return_flag": ["A", "N", "R"],
    "line_status": ["F", "O"],
    "ship_instructions": ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"],
    "ship_mode": ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"],
}
# Value ranges of the numeric base columns (filters pick thresholds inside).
RANGES = {
    "order_key": (1, 12500), "part_key": (1, 20000), "supplier_key": (1, 1000),
    "line_number": (1, 7), "quantity": (1.0, 50.0), "extended_price": (900.0, 105000.0),
    "discount": (0.0, 0.1), "tax": (0.0, 0.08),
}
# Rows a Take asks for: what `DataFrame.show()` prints by default, the
# usual size of an interactive peek.
TAKE_ROWS = 20
GROUP_KEYS = ["return_flag", "line_status", "ship_mode", "ship_instructions", "line_number"]
WORDS = ("quick brown fox slyly final deposits pending requests carefully ironic "
         "express accounts furiously bold packages regular theodolites").split()
DUCK_TYPES = {"Int": "BIGINT", "Float": "DOUBLE", "String": "VARCHAR"}
CMP_SQL = {"GreaterThan": ">", "GreaterThanOrEq": ">=", "LessThan": "<", "LessThanOrEq": "<="}
AGG_SQL = {"Sum": "sum", "Average": "avg", "Max": "max", "Min": "min", "Count": "count",
           "First": "min"}  # First of a grouped (sorted) list is its minimum


def write_csv(path, rows, seed):
    """Headerless `|`-delimited lineitem rows; (order_key, line_number) unique."""
    rng = random.Random(seed)
    with open(path, "w") as fh:
        order, line = 1, 0
        for _ in range(rows):
            line += 1
            if line > rng.randint(1, 7):
                order, line = order + rng.randint(1, 3), 1
            q = rng.randint(1, 50)
            price = q * rng.randint(900, 2100)
            ship = (rng.randint(1992, 1998), rng.randint(1, 12), rng.randint(1, 28))
            fh.write("|".join([
                str(order), str(rng.randint(1, 20000)), str(rng.randint(1, 1000)), str(line),
                f"{q}.00", f"{price}.00", f"0.0{rng.randint(0, 9)}", f"0.0{rng.randint(0, 8)}",
                rng.choice(DOMAINS["return_flag"]), rng.choice(DOMAINS["line_status"]),
                "%04d-%02d-%02d" % ship, "%04d-%02d-%02d" % (ship[0], ship[1], min(28, ship[2] + 3)),
                "%04d-%02d-%02d" % (ship[0], ship[1], min(28, ship[2] + 9)),
                rng.choice(DOMAINS["ship_instructions"]), rng.choice(DOMAINS["ship_mode"]),
                " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6))),
            ]) + "\n")


# ---- session generation -------------------------------------------------

def _col(name):
    return {"Source": name}


def _const(v):
    return {"Constant": {"Float": {"value": v, "phantom": None}} if isinstance(v, float)
            else {"Int": v}}


class _Frame:
    """Schema state of a session's lineage, for generation."""

    def __init__(self):
        self.types = dict(COLUMNS)
        self.aggregated = False
        self.filters = 0
        self.derived = 0

    def numeric(self):
        return [c for c, t in self.types.items() if t != "String"]


def _filter(rng, f):
    cands = [c for c, t in f.types.items()
             if (c in RANGES and t != "String" and not f.aggregated)
             or (c in DOMAINS and t == "String" and f.filters < 2)]
    if not cands:
        return None
    c = rng.choice(cands)
    if c in DOMAINS:
        f.filters += 1
        return {"Filter": [c, {"comparator": "Equal",
                               "value": {"String": rng.choice(DOMAINS[c])}}]}
    lo, hi = RANGES[c]
    cmp = rng.choice(list(CMP_SQL))
    frac = rng.uniform(0.05, 0.3)  # keeps 70-95% of the rows
    if cmp.startswith("Greater"):
        v = lo + frac * (hi - lo)
    else:
        v = hi - frac * (hi - lo)
    value = {"Float": {"value": round(v, 2), "phantom": None}} if f.types[c] == "Float" \
        else {"Int": int(v)}
    return {"Filter": [c, {"comparator": cmp, "value": value}]}


def _select(rng, f, keep_key=False):
    cols = list(f.types)
    keep = rng.sample(cols, rng.randint(min(2, len(cols)), min(6, len(cols))))
    keys = [k for k in GROUP_KEYS if k in f.types]
    if keep_key and not any(k in keep for k in keys):
        keep.append(rng.choice(keys))  # a later GroupBy needs a key
    keep = sorted(keep, key=cols.index)
    exprs = [_col(c) for c in keep]
    types = {c: f.types[c] for c in keep}
    nums = f.numeric()
    if nums:  # Q1's Select derives columns by arithmetic
        a = rng.choice(nums)
        op = rng.choice(["Add", "Subtract", "Multiply", "Divide"])
        if op == "Divide" or rng.random() < 0.5:
            k = rng.choice([2, 3, 4]) if f.types[a] == "Int" and op != "Divide" else \
                rng.choice([0.5, 1.5, 4.0])
            rhs, rtype = _const(k), ("Int" if isinstance(k, int) else "Float")
        else:
            b = rng.choice(nums)
            rhs, rtype = _col(b), f.types[b]
        name = f"d{f.derived}"
        f.derived += 1
        exprs.append({"Alias": [name, {"Operation": [op, _col(a), rhs]}]})
        types[name] = "Float" if op == "Divide" or "Float" in (f.types[a], rtype) else "Int"
    f.types = types
    return {"Select": exprs}


def _order(rng, f):
    keys = rng.sample(list(f.types), min(len(f.types), 2))  # Q1 sorts on two keys
    return {"OrderBy": keys}


def _group(rng, f):
    """GroupBy + Aggregation (two Op calls)."""
    keys = [k for k in GROUP_KEYS if k in f.types]
    keys = rng.sample(keys, min(2, len(keys)))
    aggs = {}
    for c, t in f.types.items():
        if c in keys:
            continue
        choices = ["Max", "Min", "Count", "First"] + (["Sum", "Average"] if t != "String" else [])
        aggs[c] = rng.choice(choices)
    types = {k: f.types[k] for k in keys}
    for c, a in aggs.items():
        types[c] = ("Int" if a == "Count" else "Float" if a == "Average"
                    else f.types[c])
    f.types, f.aggregated = types, True
    return [{"GroupBy": keys}, {"Aggregation": aggs}]


def make_session(rng, csv_path, depth, kind):
    """One session: a Read, `depth` Op calls, then the action `kind`.
    A Collect session aggregates (GroupBy + Aggregation, at a drawn
    position) and collects; Take and Count sessions never aggregate.
    The op kinds are equally likely, a Select derives one column, and a
    GroupBy and an OrderBy take two keys where they can: the reference
    client's TPC-H Q1 pipeline (`client.py:307-331`) is one Filter, one
    Select with derived columns, a GroupBy on two keys with its
    Aggregation, and one OrderBy on two keys."""
    f = _Frame()
    agg_at = rng.randint(0, depth - 2) if kind == "Collect" and depth >= 2 else None
    ops = []
    while len(ops) < depth:
        if len(ops) == agg_at:
            ops += _group(rng, f)
            continue
        step = rng.choice(["filter", "select", "order"])
        keep_key = agg_at is not None and not f.aggregated
        op = _select(rng, f, keep_key) if step == "select" else \
            _order(rng, f) if step == "order" else _filter(rng, f)
        if op is not None:
            ops.append(op)
    if f.aggregated:
        action = "Collect"
    elif kind == "Count":
        action = "Count"
    else:
        action = {"Take": TAKE_ROWS}
    read = {"Read": ["csv", csv_path,
                     {"columns": [{"name": n, "type_": t} for n, t in COLUMNS]}]}
    return {"read": read, "ops": ops, "action": action}


# The sessions: depths cycle through 1..16 and actions through Collect,
# Take, Count; the kind, width, columns and constants of every op come
# from this fixed seed. So every run sends the same sessions, as every
# query run runs the same queries; the run seed draws the CSV rows and
# the order of the sessions.
MIX_SEED = 20240


def make_sessions(seed, n, csv_path, mix=MIX_SEED):
    rng = random.Random(mix)
    kinds = ["Collect", "Take", "Count"]
    sessions = [make_session(rng, csv_path, 1 + i % 16, kinds[i % 3]) for i in range(n)]
    random.Random(seed).shuffle(sessions)
    return sessions


# ---- DuckDB oracle ------------------------------------------------------

def _q(name):
    return '"' + name + '"'


def _lit(value):
    tag, v = next(iter(value.items()))
    if tag == "Float":
        v = v["value"] if isinstance(v, dict) else v
        return f"CAST({v!r} AS DOUBLE)"
    if tag == "Int":
        return f"CAST({int(v)} AS BIGINT)"
    if tag == "String":
        return "'" + v.replace("'", "''") + "'"
    return "TRUE" if v else "FALSE"


def _expr(e):
    tag, v = next(iter(e.items()))
    if tag == "Source":
        return _q(v)
    if tag == "Constant":
        return _lit(v)
    if tag == "Alias":
        return f"{_expr(v[1])} AS {_q(v[0])}"
    sym = {"Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/"}[v[0]]
    return f"({_expr(v[1])} {sym} {_expr(v[2])})"


def read_sql(read):
    """DuckDB SQL that reads the CSV of a Read call with its schema."""
    _, path, schema = read["Read"]
    cols = ", ".join(f"'{c['name']}': '{DUCK_TYPES[c['type_']]}'" for c in schema["columns"])
    return f"SELECT * FROM read_csv('{path}', delim='|', header=false, columns={{{cols}}})"


def session_sql(session, table=None):
    """DuckDB SQL of the session's frame, and the sort keys it ends
    ordered by. `table` names a DuckDB table that already holds the
    session's CSV (loaded with `read_sql`); without it the SQL reads the
    CSV itself."""
    sql = f"SELECT * FROM {table}" if table else read_sql(session["read"])
    order, keys = None, None
    for op in session["ops"]:
        tag, v = next(iter(op.items()))
        if tag == "Filter":
            comparator = v[1]["comparator"]
            sym = "=" if comparator == "Equal" else CMP_SQL[comparator]
            sql = f"SELECT * FROM ({sql}) WHERE {_q(v[0])} {sym} {_lit(v[1]['value'])}"
        elif tag == "Select":
            sql = f"SELECT {', '.join(_expr(e) for e in v)} FROM ({sql})"
            names = [e["Source"] if "Source" in e else e["Alias"][0] for e in v]
            if order and not all(k in names for k in order):
                order = None
        elif tag == "OrderBy":
            order = list(v)
        elif tag == "GroupBy":
            keys = list(v)
        elif tag == "Aggregation":
            aggs = ", ".join(f"{AGG_SQL[a]}({_q(c)}) AS {_q(c)}" for c, a in v.items())
            k = ", ".join(_q(x) for x in keys)
            sql = f"SELECT {k}, {aggs} FROM ({sql}) GROUP BY {k}"
            order = keys
    return sql, order


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def blocks_rows(blocks):
    names = list(blocks)
    cols = [next(iter(blocks[n].values())) for n in names]
    return names, [tuple(r) for r in zip(*cols)] if cols else []


def check_action(con, session, response, table=None):
    """None when the response matches DuckDB, else a short reason."""
    sql, order = session_sql(session, table)
    blocks = response.get("blocks", {})
    action = session["action"]
    if action == "Count":
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        got = blocks.get("count", {}).get("Int", [None])[0]
        return None if got == want else f"count {got} != {want}"
    names, rows = blocks_rows(blocks)
    res = con.execute(f"SELECT * FROM ({sql})")
    want_names = [d[0] for d in res.description]
    if names != want_names:
        return f"columns {names} != {want_names}"
    want = [tuple(r) for r in res.fetchall()]
    if action == "Collect":
        if len(rows) != len(want):
            return f"collect rows {len(rows)} != {len(want)}"
        key = lambda r: tuple((x is None, str(_norm(x))) for x in r)
        for g, w in zip(sorted(rows, key=key), sorted(want, key=key)):
            if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
                return f"collect row {g} != {w}"
        return None
    n = action["Take"]
    if len(rows) != min(n, len(want)):
        return f"take rows {len(rows)} != {min(n, len(want))}"
    pool = {}
    for r in want:
        k = tuple(_norm(x) for x in r)
        pool[k] = pool.get(k, 0) + 1
    for r in rows:
        k = tuple(_norm(x) for x in r)
        if pool.get(k, 0) == 0:
            return f"take row {r} not in the result"
        pool[k] -= 1
    if order:
        idx = [names.index(k) for k in order]
        keyed = lambda r: tuple((r[i] is not None, _norm(r[i])) for i in idx)
        got = [keyed(r) for r in rows]
        top = sorted((keyed(r) for r in want))[:len(rows)]
        if got != top:
            return "take rows are not the first rows in sort order"
    return None


# ---- load generation ----------------------------------------------------

def _calls_of(session):
    """Request bodies of one session, in order (dataframe filled in live)."""
    yield "read", session["read"]
    for op in session["ops"]:
        yield "op", {"Op": op}
    yield "action", {"Action": session["action"]}


def run_sessions(port, sessions, clients, record):
    """Closed loop: `clients` threads, one keep-alive connection each, take
    the next session when the previous one finishes. Returns
    (wall seconds, first-call epoch, per-call list, per-session list)."""
    todo = queue.Queue()
    for i, s in enumerate(sessions):
        todo.put((i, s))
    calls, per_session, lock = [], [None] * len(sessions), threading.Lock()
    errors = []

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            while True:
                try:
                    i, s = todo.get_nowait()
                except queue.Empty:
                    return
                state, s0, ok, resp = None, time.perf_counter(), True, None
                mine = []
                for kind, fn in _calls_of(s):
                    body = json.dumps({"dataframe": state, "function": fn})
                    t0 = time.perf_counter()
                    conn.request("POST", "/call", body, {"Content-Type": "application/json"})
                    r = conn.getresponse()
                    data = r.read()
                    t1 = time.perf_counter()
                    entry = {"session": i, "kind": kind, "ms": (t1 - t0) * 1e3,
                             "status": r.status, "bytes": len(data), "lineage":
                             0 if state is None else len(state["ops"])}
                    if record:
                        entry["body"] = body
                    mine.append(entry)
                    if r.status != 201:
                        ok = False
                        entry["error"] = data[:300].decode("utf-8", "replace")
                        break
                    resp = json.loads(data)
                    state = resp["dataframe"]
                per_session[i] = {"s": time.perf_counter() - s0, "ok": ok,
                                  "response": resp if ok else None}
                with lock:
                    calls.extend(mine)
        except Exception as e:  # a dead connection fails the run loudly
            errors.append(repr(e))
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(clients)]
    start_epoch, t0 = time.time(), time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError(f"load generator failed: {errors[0]}")
    return time.perf_counter() - t0, start_epoch, calls, per_session


class Server:
    """The ServeBench JVM: start, command, stop."""

    def __init__(self, cmd, env, cwd, log):
        self.popen_epoch = time.time()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=log, env=env, cwd=cwd, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"server did not start (got {line!r})")
        self.port = int(line.split()[1])

    def command(self, text):
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline()
        if reply.strip() != "OK":
            raise RuntimeError(f"server command {text.split()[0]} failed: {reply!r}")

    def stop(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("QUIT\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=20)
        except Exception:
            self.proc.kill()
            self.proc.wait()
