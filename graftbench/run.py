#!/usr/bin/env python3
"""graft's benchmark.

Run one workload:
    python3 graftbench/run.py --workload qan_analytics --seed 1 --seconds 10 --trace 0

builds graft and the benchmark runner from source (first run only), runs
the workload in its own JVM for the given time, checks every output, and
prints each metric with its unit and sample count. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced run.

Compare two sets of saved runs (each run saves its report under
graftbench/.runs/ unless --save-dir says otherwise):
    python3 graftbench/run.py compare <dir-or-glob A> <dir-or-glob B>
"""
import argparse
import glob
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("qan_analytics", "qan_ingest", "corpus_index")
RUN_LIMIT_S = 170  # the whole command must end within 180 s
CHECK_MEMORY = 3 << 30
DATA = os.path.join(HERE, "data")  # copies of graft's sf0.01 events, sf0.1 documents/embeddings
BUILD_LIMIT_S = 850

JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def sources_newer_than(path):
    t = os.path.getmtime(path)
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            if any(os.path.getmtime(os.path.join(dp, f)) > t for f in fs):
                return True
    return any(os.path.getmtime(p) > t for p in (
        os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")))


def build():
    """Compile graft and the runner with sbt; returns the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if not os.path.exists(cp_file) or sources_newer_than(cp_file):
        log = os.path.join(HERE, "target", "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                                    stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.exists(cp_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed")
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ run

def machine_state():
    """The settled-start stamp: 1-minute load and usable cores."""
    try:
        load = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load = -1.0
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {"load_1m": load, "cores": cores, "busy": load > cores}


def run_jvm(cp, args, work, deadline):
    out_file = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                 "-cp", cp, "graftbench.Main", args.workload,
                                 str(args.seed), str(args.seconds), str(args.trace),
                                 DATA, work, out_file]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write(open(log).read()[-4000:])
            fail("the workload ran past its time limit", 3)
    if p.returncode != 0 or not os.path.exists(out_file):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"the workload's JVM exited with {p.returncode}", 3)
    with open(out_file) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def canon_module():
    """scripts/check.py's canonicalization (columns by name, rows sorted,
    floats via repr), so the benchmark checks outputs as the oracle gate
    does."""
    path = os.path.join(ROOT, "scripts", "check.py")
    sys.dont_write_bytecode = True  # leave no cache next to the repo's script
    s = importlib.util.spec_from_file_location("graft_check", path)
    m = importlib.util.module_from_spec(s)
    s.loader.exec_module(m)
    return m


def check_analytics(res):
    """Each query's dumped result against its DuckDB oracle."""
    import duckdb
    canon = canon_module().canon
    fin = res["finish"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{fin['data_dir']}/events.parquet'")
    wrong = {}
    for name in fin["queries"]:
        if fin["dumped"].get(name) != "ok":
            wrong[name] = "failed: " + str(fin["dumped"].get(name))
            continue
        sql = fin["oracles"].get(name)
        if sql is None:
            continue  # the sketch queries are bounded by specs, not oracles
        try:
            got = con.execute(f"SELECT * FROM '{fin['out_dir']}/{name}/*.parquet'")
            g = canon(got.fetchall(), [c[0] for c in got.description])
            want = con.execute(sql)
            w = canon(want.fetchall(), [c[0] for c in want.description])
        except Exception as e:  # an unreadable output is a wrong output
            wrong[name] = f"unreadable: {e}"
            continue
        if g != w:
            wrong[name] = (f"{len(g[0])} rows, the oracle {len(w[0])}" if len(g[0]) != len(w[0])
                           else f"values differ from the oracle's in {len(g[0])} rows")
    return wrong


def check_ingest(res):
    """The delta output against a DuckDB LAG replay of the staged
    snapshots (the qan_poll_delta oracle's shape). Returns the polls whose
    deltas differ."""
    import duckdb
    canon = canon_module().canon
    fin = res["finish"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    want = con.execute(f"""
        WITH s AS (SELECT * FROM '{fin['staging_dir']}/*.parquet'),
        lagged AS (SELECT *, LAG(counter) OVER (
            PARTITION BY user_id, event_type ORDER BY poll_index) AS prev FROM s)
        SELECT poll_index AS event_id, user_id, event_type,
          CAST(CASE WHEN prev IS NULL THEN counter
                    WHEN counter >= prev THEN counter - prev
                    ELSE counter END AS DOUBLE) AS delta_value
        FROM lagged""")
    wcols = [c[0] for c in want.description]
    w = want.fetchall()
    got = con.execute(f"SELECT event_id, user_id, event_type, delta_value "
                      f"FROM '{fin['deltas_dir']}/*.parquet'")
    g = got.fetchall()
    by_poll = {}
    for tag, rows in (("want", w), ("got", g)):
        for r in rows:
            by_poll.setdefault(r[0], {"want": [], "got": []})[tag].append(r)
    bad = {f"poll {p}": "deltas differ from the replay" for p, v in sorted(by_poll.items())
           if canon(v["want"], wcols)[0] != canon(v["got"], wcols)[0]}
    if len(by_poll) != fin["polls"]:
        bad["polls"] = f"{len(by_poll)} polls in the output, {fin['polls']} staged"
    return bad


def run_checks(workload, result_file, deadline):
    """Run the output checks in a child process with a memory cap, so an
    oracle that blows up fails the check instead of the machine."""
    def cap():
        import resource
        resource.setrlimit(resource.RLIMIT_AS, (CHECK_MEMORY, CHECK_MEMORY))
    try:
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "_check", workload,
                            result_file], capture_output=True, text=True, preexec_fn=cap,
                           timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return {"checker": "ran past the time limit"}
    if p.returncode != 0:
        return {"checker": f"exited with {p.returncode}: {p.stderr[-500:]}"}
    return json.loads(p.stdout)


def check_main(workload, result_file):
    with open(result_file) as f:
        res = json.load(f)
    wrong = check_analytics(res) if workload == "qan_analytics" else check_ingest(res)
    print(json.dumps(wrong))


# ------------------------------------------------------------------ metrics

def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(res, failed):
    ops = res["ops"]
    secs = [o["s"] for o in ops if o["ok"]]
    kinds = lambda ks: [o["s"] for o in ops if o["ok"] and o["kind"] in ks]
    n_ok = len(secs)
    m = {
        "setup_s": (res["setup_s"], "s", 1),
        "op_p50_s": (statistics.median(secs), "s", n_ok),
        "op_p90_s": (pct(secs, 90), "s", n_ok),
        "ops_per_s": (n_ok / res["timed_s"], "1/s", n_ok),
        "rows_per_s": (res["rows"] / res["timed_s"], "rows/s", n_ok),
        "heap_live_mb": (res["heap_live_mb"], "MB", 1),
        "error_rate": (failed / max(1, len(ops)), "ratio", len(ops)),
    }
    if res["workload"] == "corpus_index":
        fin = res["finish"]
        for name, ks in (("write_p50_s", ("append", "delete")), ("read_p50_s", ("serve",)),
                         ("compact_p50_s", ("compact",))):
            xs = kinds(ks)
            m[name] = (statistics.median(xs) if xs else float("nan"), "s", len(xs))
        m["write_amp"] = (fin["write_amp"], "ratio", 1)
        m["space_amp"] = (fin["space_amp"], "ratio", 1)
    return m


def layer_table(layers):
    """Seconds by layer per traced op: span self times, then the listener
    breakdown of the time inside them."""
    n = max(1, layers["traced_ops"])
    rows = [(name, v["calls"], v["self_s"] / n) for name, v in sorted(layers["self_s"].items())]
    rows.append(("(unattributed)", layers["traced_ops"], layers["trace.unattributed_s"]))
    lines = [f"{'layer':<22} {'calls':>6} {'self s/op':>10}"]
    lines += [f"{a:<22} {b:>6} {c:>10.4f}" for a, b, c in rows]
    lines.append(f"{'op wall':<22} {n:>6} {layers['traced_wall_s'] / n:>10.4f}")
    lines.append("of which (listeners, s/op): " + ", ".join(
        f"{k}={layers[k]:.4f}" for k in (
            "plans.analyze_s", "plans.optimize_s", "plans.physical_s", "exec.run_s",
            "exec.driver_gap_s", "streaming.add_batch_s", "streaming.startstop_s")))
    return "\n".join(lines)


# ------------------------------------------------------------------ compare

def load_runs(where):
    paths = sorted(glob.glob(os.path.join(where, "*.json")) if os.path.isdir(where)
                   else glob.glob(where))
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def compare(a_where, b_where):
    """Per metric and workload: each side's median and quartiles, the
    share of pairs B wins, and a verdict. B is better only if it wins at
    least 9/10 of the pairs and the medians differ by more than A's
    interquartile range; a metric whose spread in A exceeds its bound is
    unresolved unless every B run beats (or loses to) every A run."""
    s = spec()
    metrics = {m["name"]: m for m in s["end_to_end"]}
    a_runs, b_runs = load_runs(a_where), load_runs(b_where)
    print(f"{'workload':<14} {'metric':<14} {'A median [q1, q3]':>30} "
          f"{'B median [q1, q3]':>30} {'runs':>7} {'B wins':>9}  verdict")
    for wl in sorted({r["workload"] for r in a_runs + b_runs}):
        A = [r for r in a_runs if r["workload"] == wl and not r["trace"]]
        B = [r for r in b_runs if r["workload"] == wl and not r["trace"]]
        if not A or not B:
            continue
        for name, m in metrics.items():
            a = [r["metrics"][name]["value"] for r in A if name in r["metrics"]]
            b = [r["metrics"][name]["value"] for r in B if name in r["metrics"]]
            if not a or not b:
                continue
            sign = 1 if m["better"] == "higher" else -1
            qa = statistics.quantiles(a, n=4) if len(a) > 1 else [a[0]] * 3
            qb = statistics.quantiles(b, n=4) if len(b) > 1 else [b[0]] * 3
            ma, mb = statistics.median(a), statistics.median(b)
            # pair by seed only when both sides ran the same seeds, each
            # once; otherwise every A run meets every B run
            sa = sorted((r["seed"], r["metrics"][name]["value"]) for r in A if name in r["metrics"])
            sb = sorted((r["seed"], r["metrics"][name]["value"]) for r in B if name in r["metrics"])
            seeds = [k for k, _ in sa]
            paired = seeds == [k for k, _ in sb] and len(set(seeds)) == len(seeds)
            pairs = ([(x, y) for (_, x), (_, y) in zip(sa, sb)] if paired
                     else [(x, y) for x in a for y in b])
            wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
            losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
            iqr = qa[2] - qa[0]
            spread = iqr / abs(ma) if ma else float("inf")
            worse_by = -sign * (mb - ma) / abs(ma) if ma else 0.0
            every_pair = [sign * (y - x) for x in a for y in b]
            if spread > m["bound"] and not (all(d > 0 for d in every_pair) or
                                            all(d < 0 for d in every_pair)):
                verdict = f"unresolved (A spread {spread:.2f} > bound {m['bound']})"
            elif wins >= 0.9 * len(pairs) and abs(mb - ma) > iqr:
                verdict = "better"
            elif losses >= 0.9 * len(pairs) and abs(mb - ma) > iqr:
                verdict = "worse"
            elif worse_by > m["bound"]:
                verdict = f"worse beyond bound ({worse_by:+.1%})"
            else:
                verdict = "no significant change"
            fmt = lambda md, q: f"{md:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{wl:<14} {name:<14} {fmt(ma, qa):>30} {fmt(mb, qb):>30} "
                  f"{len(a):>3}/{len(b):<3} {wins:>4}/{len(pairs):<4}"
                  f"{' paired' if paired else ''}  {verdict}")


# ------------------------------------------------------------------ main

def main():
    if len(sys.argv) == 4 and sys.argv[1] == "_check":
        check_main(sys.argv[2], sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare <runs A> <runs B>")
        compare(sys.argv[2], sys.argv[3])
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save-dir", default=os.path.join(HERE, ".runs"))
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    stamp = machine_state()

    # the program is built from this checkout's sources
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala/graft)")
    if not all(os.path.exists(os.path.join(DATA, t + ".parquet"))
               for t in ("events", "documents", "embeddings")):
        fail(f"the benchmark's tables are missing from {DATA}")
    s = spec()
    t_build = time.time()
    cp = build()
    deadline += time.time() - t_build  # a first-run build has its own limit

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(cp, args, work, deadline)
        failed = sum(1 for o in res["ops"] if not o["ok"])
        if args.workload == "qan_analytics":
            wrong = run_checks(args.workload, os.path.join(work, "result.json"), deadline)
            failed += sum(1 for o in res["ops"] if o["ok"] and o["label"] in wrong)
        elif args.workload == "qan_ingest":
            wrong = run_checks(args.workload, os.path.join(work, "result.json"), deadline)
            # the timed ticks are the last polls; the warm-up polls before
            # them are checked too, but are not ops
            timed = range(res["finish"]["polls"] - len(res["ops"]), res["finish"]["polls"])
            failed += sum(1 for i in timed if f"poll {i}" in wrong) + ("polls" in wrong)
        else:
            wrong = {m.split(":")[0]: m for m in res["finish"]["mismatches"]}
            failed += len(wrong)
        for k, v in wrong.items():
            print(f"WRONG OUTPUT {k}: {v}", file=sys.stderr)
        correct = not wrong and failed == 0
        e2e = end_to_end(res, failed)
        print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
              f"load_1m={stamp['load_1m']} cores={stamp['cores']}"
              + (" BUSY-START" if stamp["busy"] else ""))
        for name, (v, unit, n) in e2e.items():
            print(f"{name:<16} {v:>14.6g} {unit:<8} n={n}")
        if args.trace:
            print(layer_table(res["layers"]))
            metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in s["per_layer"]}
            os.makedirs(args.save_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                args.save_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                       for m in s["end_to_end"]}
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "machine": stamp, "correct": correct,
                  "attempted": len(res["ops"]), "failed": failed, "metrics": metrics,
                  "all_metrics": {k: {"value": v, "unit": u, "n": n}
                                  for k, (v, u, n) in e2e.items()},
                  "wrong": wrong, "layers": res["layers"],
                  "setup": {k: res[k] for k in ("session_s", "setup_s", "finish_s")},
                  "ops": [[o["kind"], o["label"], o["s"], o["ok"]] for o in res["ops"]]}
        os.makedirs(args.save_dir, exist_ok=True)
        with open(os.path.join(args.save_dir, f"{args.workload}-s{args.seed}-t{args.trace}-"
                               f"{int(time.time())}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps({"correct": correct, "attempted": len(res["ops"]), "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
