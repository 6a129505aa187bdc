#!/usr/bin/env python3
"""Self-test of the benchmark, under a minute once built.

    python3 e2ebench/selftest.py

Checks the percentile, session, oracle and record code on fixed inputs,
then runs the command end to end on sf0.001 with 3 relational queries
and with 3 serve sessions, and parses its output line and record.
Exits non-zero on the first failure.
"""
import json
import os
import random
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import queries  # noqa: E402
import run      # noqa: E402
import serve    # noqa: E402


def check_percentile():
    xs = [random.Random(7).uniform(0, 100) for _ in range(101)]
    assert run.percentile(xs, 50) == statistics.median(xs)
    inclusive = statistics.quantiles(xs, n=20, method="inclusive")
    assert abs(run.percentile(xs, 95) - inclusive[18]) < 1e-9
    assert run.percentile([3.0], 99) == 3.0
    assert run.percentile([1.0, 2.0], 75) == 1.75


def check_order():
    a = queries.ordered("shared_builds", 5)
    assert a == queries.ordered("shared_builds", 5)
    assert sorted(a) == sorted(q for f in queries.FAMILIES.values() for q in f)
    assert queries.payers(a) == {f[0] for f in queries.FAMILIES.values()}
    assert sorted(queries.ordered("relational", 3)) == sorted(queries.RELATIONAL)


def check_sessions():
    s1 = serve.make_sessions(11, 50, "x.csv")
    assert s1 == serve.make_sessions(11, 50, "x.csv")
    key = lambda s: json.dumps(s, sort_keys=True)  # another seed: same sessions, new order
    s2 = serve.make_sessions(12, 50, "x.csv")
    assert s1 != s2 and sorted(s1, key=key) == sorted(s2, key=key)
    for s in s1:
        assert 1 <= len(s["ops"]) <= 16
        if any("Aggregation" in op for op in s["ops"]):
            assert s["action"] == "Collect"
        serve.session_sql(s)  # every generated op has a SQL translation


def check_oracle(csv_path):
    import duckdb
    serve.write_csv(csv_path, 300, 1)
    con = duckdb.connect()
    read = {"Read": ["csv", csv_path, {"columns": [{"name": n, "type_": t}
                                                  for n, t in serve.COLUMNS]}]}
    count = {"read": read, "ops": [{"Filter": ["line_number", {
        "comparator": "LessThan", "value": {"Int": 3}}]}], "action": "Count"}
    n = con.execute(f"SELECT count(*) FROM ({serve.session_sql(count)[0]})").fetchone()[0]
    assert serve.check_action(con, count, {"blocks": {"count": {"Int": [n]}}}) is None
    assert serve.check_action(con, count, {"blocks": {"count": {"Int": [n + 1]}}})
    group = {"read": read, "ops": [{"Select": [{"Source": "return_flag"}, {"Source": "tax"}]},
                                   {"GroupBy": ["return_flag"]},
                                   {"Aggregation": {"tax": "Sum"}}], "action": "Collect"}
    rows = con.execute(f"SELECT return_flag, tax FROM ({serve.session_sql(group)[0]})").fetchall()
    blocks = {"return_flag": {"String": [r[0] for r in rows]},
              "tax": {"Float": [r[1] * (1 + 1e-12) for r in rows]}}
    assert serve.check_action(con, group, {"blocks": blocks}) is None
    blocks["tax"]["Float"][0] += 1.0
    assert serve.check_action(con, group, {"blocks": blocks})
    dropped = {"return_flag": blocks["return_flag"]}  # a column the frame has is missing
    assert serve.check_action(con, group, {"blocks": dropped}).startswith("columns")
    names, got = serve.blocks_rows({"a": {"Int": [1, 2]}, "b": {"String": ["x", "y"]}})
    assert names == ["a", "b"] and got == [(1, "x"), (2, "y")]


def run_cli(args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args,
                       capture_output=True, text=True, cwd=build.ROOT, timeout=170)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    assert out["correct"] and out["failed"] == 0, r.stderr[-2000:]
    assert set(out["metrics"]) == set(run.END_TO_END), out["metrics"]
    for name, m in out["metrics"].items():
        assert m["unit"] == run.END_TO_END[name] and m["value"] > 0, (name, m)
    record = r.stderr.strip().splitlines()[-1].split("record: ")[-1]
    with open(record) as fh:
        rec = json.load(fh)
    for key in ("workload", "seed", "cpus", "commit", "start", "metrics", "detail"):
        assert key in rec, key
    assert rec["metrics"] == out["metrics"]
    return out


def main():
    check_percentile()
    check_order()
    check_sessions()
    tmp = os.path.join(build.BUILD, "selftest")
    os.makedirs(tmp, exist_ok=True)
    check_oracle(os.path.join(tmp, "oracle.csv"))
    print("[selftest] unit checks ok", file=sys.stderr)
    out = run_cli(["--workload", "relational", "--seed", "1", "--trace", "0",
                   "--sf", "sf0.001", "--limit", "3"])
    assert out["attempted"] == 3
    out = run_cli(["--workload", "serve", "--seed", "1", "--trace", "0", "--seconds", "1"])
    assert out["attempted"] == 3
    print("[selftest] ok", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
