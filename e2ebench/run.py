#!/usr/bin/env python3
"""graft end-to-end benchmark: one command per workload run.

    python3 e2ebench/run.py --workload relational|shared_builds|serve \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the benchmark's
Scala mains from source when needed (e2ebench/build.py), runs the workload,
checks the outputs, writes a run record under .bench_build/records/,
prints every metric with its unit on stderr, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--transition` also times every query of a query workload under
`.count()` (build + count, against build + noop) and prints the pair as
a markdown table instead of the metrics line.
Test data: the read-only parquet tables under $GRAFTBENCH_DATA (default:
the directory TESTDATA.md names), sf0.01 for the timed pass, sf0.001 for
warmup.
See e2ebench/README.md.
"""
import argparse
import datetime
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import queries  # noqa: E402
import serve    # noqa: E402

WORKLOADS = ["relational", "shared_builds", "serve"]
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_ms.p50": "ms", "op_ms.p90": "ms",
    "action_ms.mean": "ms", "calls_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_task_run_s": "s",
    "sources.resolve_ms": "ms", "sources.csv_scan_s": "s", "exec.input_mb": "MB",
    "memo.payer_build_s": "s", "memo.reader_build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew": "ratio", "exec.driver_gap_s": "s",
    "wire.replay_ms": "ms", "wire.replay_ms_per_op": "ms", "wire.encode_ms": "ms",
    "wire.resp_kb": "kB", "api.analyze_ms": "ms", "server.handle_ms": "ms", "server.http_ms": "ms",
    "trace.overhead_s": "s", "trace.unaccounted_frac": "ratio",
}
EXEC_SUMS = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_gap_s"]
SERVE_CLIENTS = 2
# Serve sessions per run second: with the seconds of BENCHMARK.json this
# gives >= 10 op samples beyond p90 and 30 actions.
SERVE_SESSIONS_PER_S = 1.5
# The row count of the sizing probe's CSV (200k rows). At that size an
# action costs about seven op calls, and the ops and the actions of a
# run take comparable shares of its wall time.
SERVE_CSV_ROWS = 200000
SERVE_REPLAY_SESSIONS = 16
# A default-sized run must end well within 180 s once built.
RUN_DEADLINE_S = 170


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Run:
    """Paths and process handling of one benchmark invocation."""

    def __init__(self, workload, seed, trace):
        self.root = build.ROOT
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
        self.run_id = f"{workload}-s{seed}-t{trace}-{stamp}-{os.getpid()}"
        self.work = os.path.join(build.BUILD, "work", self.run_id)
        os.makedirs(self.work)
        self.records = os.path.join(build.BUILD, "records")
        os.makedirs(self.records, exist_ok=True)
        self.log_path = os.path.join(self.work, "jvm.log")
        self.classpath = None
        self.last_popen_epoch = None

    def env(self):
        env = build.java_env(os.path.join(self.work, "tmp"))
        env["GRAFTBENCH_CPUS"] = env["SPARK_GRAFT_CPUS"] = str(cpus())
        env["GRAFTBENCH_RUN_ID"] = self.run_id
        return env

    def jvm(self, main, args, out_json, heap="3g", timeout=170):
        """Run a benchmark main to completion; return the JSON it wrote."""
        cmd = build.java_cmd(self.classpath, main, args, heap)
        with open(self.log_path, "a") as log:
            self.last_popen_epoch = time.time()
            r = subprocess.run(cmd, cwd=self.work, env=self.env(), stdout=log, stderr=log,
                               timeout=timeout)
        if r.returncode != 0:
            raise RuntimeError(f"{main} exited {r.returncode}; see {self.log_path}")
        with open(out_json) as fh:
            return json.load(fh)

    def server(self):
        log = open(self.log_path, "a")
        cmd = build.java_cmd(self.classpath, "graftbench.ServeBench", [], heap="2g")
        return serve.Server(cmd, self.env(), self.work, log)

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)


def cpus():
    return len(os.sched_getaffinity(0))


def data_root():
    """$GRAFTBENCH_DATA, else the directory holding the sf* tables that
    the repo's TESTDATA.md lists."""
    if os.environ.get("GRAFTBENCH_DATA"):
        return os.environ["GRAFTBENCH_DATA"]
    with open(os.path.join(build.ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"`([^`]+)/sf0\.001/?`", fh.read())
    if not m:
        raise RuntimeError("TESTDATA.md names no sf0.001 directory (set GRAFTBENCH_DATA)")
    return m.group(1)


def data_dir(sf):
    d = os.path.join(data_root(), sf)
    if not os.path.isdir(d):
        raise RuntimeError(f"test data not found: {d} (set GRAFTBENCH_DATA)")
    return d


def source_id():
    """Commit of the checkout if it is a git repository of its own, else
    the digest of the compiled sources."""
    try:
        top, head = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                                   cwd=build.ROOT, capture_output=True, text=True,
                                   timeout=10).stdout.split()
        if os.path.realpath(top) == os.path.realpath(build.ROOT):
            return head
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        with open(os.path.join(build.BUILD, "graft-classes.stamp")) as fh:
            return "src:" + fh.read()[:16]
    except OSError:
        return None


# ---- query workloads ----------------------------------------------------

def query_workload(run, args):
    names = queries.ordered(args.workload, args.seed, args.full)[:args.limit]
    sf, warm = data_dir(args.sf), data_dir("sf0.001")
    big = args.full or args.sf != "sf0.01"
    base = None
    if args.trace:  # the same work untraced, in a JVM of its own: trace.overhead_s
        base = queries.run_pass(run, names, sf, warm, False, os.path.join(run.work, "warm0"),
                                big=big)
    warm_dump, sf_dump = os.path.join(run.work, "warm"), os.path.join(run.work, "timed")
    res = queries.run_pass(run, names, sf, warm, args.trace == 1, warm_dump, sf_dump,
                           count=args.transition, big=big)
    failed = queries.correctness(run, res, names,
                                 {"sf0.001": (warm, warm_dump), args.sf: (sf, sf_dump)})
    ok = [q for q in res["queries"] if "error" not in q]
    builds = [q["build_s"] * 1e3 for q in ok]
    execs = [q["exec_s"] * 1e3 for q in ok]
    e2e = {
        "setup_s": res["setup_s"], "wall_s": res["wall_s"],
        "op_ms.p50": percentile(builds, 50), "op_ms.p90": percentile(builds, 90),
        "action_ms.mean": statistics.mean(execs),
        "calls_per_s": 2 * len(ok) / res["wall_s"], "peak_rss_mb": res["peak_rss_mb"],
    }
    detail = {"order": names, "queries": queries.timed_detail(res), "sf": args.sf,
              "query_s_p50": statistics.median(q["build_s"] + q["exec_s"] for q in ok),
              "jvm_s": res["jvm_s"], "check_s": res["check_s"]}
    layers = query_layers(res, names, base["wall_s"]) if args.trace else None
    return e2e, layers, len(names), failed, detail


def query_layers(res, names, untraced_wall):
    qs = [q for q in res["queries"] if "error" not in q]
    pay = queries.payers(names)
    m = {k: 0.0 for k in PER_LAYER}
    m["queries.build_s"] = sum(q["build_s"] for q in qs)
    m["queries.build_jobs"] = sum(q["build"]["jobs"] for q in qs)
    m["queries.build_task_run_s"] = sum(q["build"]["task_run_s"] for q in qs)
    m["sources.resolve_ms"] = statistics.mean(res["resolve_ms"].values())
    m["exec.input_mb"] = sum(q["exec"]["input_mb"] for q in qs)
    m["memo.payer_build_s"] = sum(q["build_s"] for q in qs if q["name"] in pay)
    m["memo.reader_build_s"] = sum(q["build_s"] for q in qs
                                   if q["name"] in queries.FAMILY_OF and q["name"] not in pay)
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_s"] = sum(q[f"{p}_s"] for q in qs)
    m["exec.s"] = sum(q["exec_s"] for q in qs)
    for k in EXEC_SUMS:
        m[f"exec.{k}"] = sum(q["exec"].get(k, 0.0) for q in qs)
    skews = [q["exec"]["task_skew"] for q in qs if "task_skew" in q["exec"]]
    m["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    accounted = sum(q["build_s"] + q["plan_s"] + q["exec_s"] for q in qs)
    m["trace.unaccounted_frac"] = (res["wall_s"] - accounted) / res["wall_s"]
    m["trace.overhead_s"] = res["wall_s"] - untraced_wall
    return m


# ---- serve --------------------------------------------------------------

def serve_workload(run, args):
    import duckdb
    n = max(3, int(SERVE_SESSIONS_PER_S * args.seconds))
    csv_path = os.path.join(run.work, "lineitem.csv")
    warm_csv = os.path.join(run.work, "warm.csv")
    serve.write_csv(csv_path, SERVE_CSV_ROWS, args.seed)
    serve.write_csv(warm_csv, 2000, 0)
    sessions = serve.make_sessions(args.seed, n, csv_path)
    warm = serve.make_sessions(0, 3, warm_csv, mix=0)
    srv = run.server()
    try:
        serve.run_sessions(srv.port, warm, SERVE_CLIENTS, record=False)
        wall, first_epoch, calls, per_session = serve.run_sessions(
            srv.port, sessions, SERVE_CLIENTS, record=bool(args.trace))
        setup = first_epoch - srv.popen_epoch
        stats_json = os.path.join(run.work, "stats.json")
        replay = None
        if args.trace:
            replay = serve_replay(run, srv, calls, csv_path)
        srv.command(f"STATS {stats_json}")
        with open(stats_json) as fh:
            rss = json.load(fh)["peak_rss_mb"]
    finally:
        srv.stop()

    con = duckdb.connect()
    con.execute(f"CREATE TABLE lineitem AS {serve.read_sql(sessions[0]['read'])}")
    failed = {}
    for i, s in enumerate(per_session):
        if s is None or not s["ok"]:
            bad = next((c for c in calls if c["session"] == i and c["status"] != 201), None)
            failed[f"session{i}"] = f"status {bad['status']}: {bad.get('error')}" if bad \
                else "not run"
            continue
        why = serve.check_action(con, sessions[i], s["response"], "lineitem")
        if why:
            failed[f"session{i}"] = why
    ops = [c["ms"] for c in calls if c["kind"] != "action"]
    acts = [c["ms"] for c in calls if c["kind"] == "action"]
    e2e = {
        "setup_s": setup, "wall_s": wall,
        "op_ms.p50": percentile(ops, 50), "op_ms.p90": percentile(ops, 90),
        "action_ms.mean": statistics.mean(acts),
        "calls_per_s": len(calls) / wall, "peak_rss_mb": rss,
    }
    by_type = {}
    for c in calls:
        key = c["kind"] if c["kind"] != "action" else "action:" + _action_name(sessions[c["session"]])
        by_type.setdefault(key, []).append(c["ms"])
    detail = {"sessions": n, "clients": SERVE_CLIENTS, "csv_rows": SERVE_CSV_ROWS,
              "session_s_p50": statistics.median(s["s"] for s in per_session if s),
              "calls_by_type": {k: {"n": len(v), "p50_ms": percentile(v, 50),
                                    "p90_ms": percentile(v, 90)} for k, v in by_type.items()},
              "depths": [len(s["ops"]) for s in sessions],
              "action_ms": [c["ms"] for c in calls if c["kind"] == "action"]}
    layers = serve_layers(replay, calls) if args.trace else None
    return e2e, layers, n, failed, detail


def _action_name(session):
    a = session["action"]
    return a if isinstance(a, str) else next(iter(a))


def serve_replay(run, srv, calls, csv_path):
    """Replay the first sessions' recorded bodies in the server JVM."""
    keep = [c for c in calls if c["session"] < SERVE_REPLAY_SESSIONS and c["status"] == 201]
    keep.sort(key=lambda c: (c["session"], c["lineage"], c["kind"] == "action"))
    bodies = os.path.join(run.work, "bodies.jsonl")
    with open(bodies, "w") as fh:
        for i, c in enumerate(keep):
            c["call"] = i
            fh.write(json.dumps({"call": i, "body": c["body"]}) + "\n")
    out = os.path.join(run.work, "replay.json")
    srv.command(f"REPLAY {bodies} {out} {csv_path}")
    with open(out) as fh:
        res = json.load(fh)
    res["http_ms"] = {c["call"]: c["ms"] for c in keep}
    return res


def serve_layers(replay, calls):
    rc = replay["calls"]
    builds = [c for c in rc if "analyze_ms" in c]
    acts = [c for c in rc if "exec_ms" in c]
    m = {k: 0.0 for k in PER_LAYER}
    m["sources.resolve_ms"] = statistics.median(c["resolve_ms"] for c in rc if "resolve_ms" in c)
    m["sources.csv_scan_s"] = replay.get("csv_scan_s", 0.0)
    m["exec.input_mb"] = sum(c["exec"]["input_mb"] for c in acts)
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_s"] = sum(c[f"{p}_s"] for c in acts)
    m["exec.s"] = sum(c["exec_ms"] for c in acts) / 1e3
    for k in EXEC_SUMS:
        m[f"exec.{k}"] = sum(c["exec"].get(k, 0.0) for c in acts)
    skews = [c["exec"]["task_skew"] for c in acts if "task_skew" in c["exec"]]
    m["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    m["wire.replay_ms"] = statistics.median(c["replay_ms"] for c in rc)
    m["wire.replay_ms_per_op"] = statistics.median(c["replay_ms"] / c["lineage"]
                                                   for c in rc if c["lineage"])
    m["wire.encode_ms"] = statistics.median(c["encode_ms"] for c in acts)
    m["wire.resp_kb"] = statistics.mean(c["bytes"] for c in calls) / 1024.0
    m["api.analyze_ms"] = statistics.median(c["analyze_ms"] for c in builds)
    m["server.handle_ms"] = statistics.median(c["handle_ms"] for c in rc)
    m["server.http_ms"] = statistics.median(replay["http_ms"][c["call"]] - c["handle_ms"]
                                            for c in rc)
    handled = sum(c["handle_ms"] for c in rc)
    parts = sum(c["replay_ms"] + c.get("analyze_ms", 0.0) + c.get("plan_ms", 0.0)
                + c.get("exec_ms", 0.0) + c.get("encode_ms", 0.0) for c in rc)
    m["trace.unaccounted_frac"] = (handled - parts) / handled
    # the HTTP load runs untraced, so the overhead is taken in process:
    # GraftServer.handle over the replayed bodies with and without tracing
    m["trace.overhead_s"] = handled / 1e3 - replay["handle_untraced_s"]
    return m


# ---- main ---------------------------------------------------------------

def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--transition", action="store_true",
                    help="query workloads: also time .count() per query; record only")
    ap.add_argument("--sf", default="sf0.01", help="query workloads: timed scale factor")
    ap.add_argument("--full", action="store_true",
                    help="query workloads: the full query lists instead of the default subsets")
    ap.add_argument("--limit", type=int, help="query workloads: only the first N queries")
    args = ap.parse_args(argv)

    start = datetime.datetime.now(datetime.timezone.utc).isoformat()
    classpath = build.ensure_built()
    if not (args.full or args.transition or args.sf != "sf0.01"):
        signal.signal(signal.SIGALRM, _deadline)
        signal.alarm(RUN_DEADLINE_S)
    run = Run(args.workload, args.seed, args.trace)
    run.classpath = classpath
    try:
        if args.workload == "serve":
            e2e, layers, attempted, failed, detail = serve_workload(run, args)
        else:
            e2e, layers, attempted, failed, detail = query_workload(run, args)
    except Exception:
        print(f"[e2ebench] run failed; JVM log: {run.log_path}", file=sys.stderr)
        raise
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    record = {
        "run_id": run.run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "cpus": cpus(), "commit": source_id(), "start": start,
        "seconds": args.seconds, "failed_frac": len(failed) / attempted,
        "failures": failed, "metrics": result["metrics"],
        "end_to_end": e2e, "per_layer": layers, "detail": detail,
    }
    path = os.path.join(run.records, run.run_id + ".json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    for name in ("spans.jsonl", "replay.json"):  # the traced run's spans / per-call split
        if os.path.exists(os.path.join(run.work, name)):
            shutil.copy(os.path.join(run.work, name), os.path.join(run.records, f"{run.run_id}.{name}"))
    run.cleanup()
    for k, v in result["metrics"].items():
        print(f"{k:28s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
    print(f"{'failed_frac':28s} {len(failed) / attempted:14.4f} ratio", file=sys.stderr)
    for k, v in failed.items():
        print(f"[e2ebench] FAILED {k}: {v}", file=sys.stderr)
    print(f"[e2ebench] record: {path}", file=sys.stderr)
    if args.transition:
        print("| query | count s | noop s | noop / count |\n|---|---|---|---|")
        for q in detail["queries"]:
            if "count_s" in q:
                noop = q["build_s"] + q["exec_s"]
                count = q["build_s"] + q["count_s"]
                print(f"| {q['name']} | {count:.3f} | {noop:.3f} | {noop / count:.2f} |")
        return 0
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
