#!/usr/bin/env python3
"""Repo benchmark: drives the engine from outside and prints one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry, index_churn, paper_flow (see BENCHMARK.json). The
first run in a checkout builds the engine and the benchmark from source with
sbt (perfbench/build.sbt depends on the root build); later runs reuse the
build while the sources are unchanged.

Each run gets a fresh directory under perfbench/.work for its inputs,
warehouse and Spark local files, and removes it when done. The engine runs
in one JVM as a single closed-loop client (perfbench.Main). Afterwards the
registry rows' outputs are compared with their DuckDB oracle SQL; a wrong
output counts every execution of that row as failed.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Any
failed build or set-up step exits non-zero without that line.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("registry", "index_churn", "paper_flow")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# a run must end within 180 s once the build is done
DEADLINE_S = 175.0

# BASELINE.md's per-stage seconds for the reference notebook (Spark 2.x,
# local[8], 500 trees of depth 20), on the reference's full train file
BASELINE_STAGES = [
    ("load + labels (train)", ["ml.load_s", "ml.labels_s"], 6.87),
    ("one-hot encoding", ["ml.ohe_s"], 13.57),
    ("attribute ratio", ["ml.ar_s"], 4.63),
    ("standardize", ["ml.standardize_s"], 2.50),
    ("assemble + index", ["ml.assemble_s", "ml.split_s"], 1.66),
    ("kmeans fit", ["ml.cluster_fit_s"], 11.78),
    ("per-cluster forests", ["ml.rf_fit_s"], 234.43),
    ("scoring (cv + test)", ["ml.score_s", "ml.metrics_s"], 17.96 + 16.67),
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the engine and the benchmark; returns the java classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"build: {need} is missing next to perfbench/; run from a "
                 "checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        with open(log, "a") as fh:
            fh.write(p.stdout)
        fail(f"build: sbt failed (exit {p.returncode}); see {log}\n"
             + "\n".join(lines[-15:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_engine(cp, args, run_dir, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(run_dir, "java.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + cp + "\n")
    # A fixed heap, touched at start. Untouched, heap pages become resident
    # as garbage collection reaches them, which depends on when it runs, so
    # peak RSS would measure GC timing; pre-touched, what varies is native
    # memory (JIT, metaspace of generated code, threads, buffers). 1 GB is
    # Spark's default driver memory. Two malloc arenas keep native growth
    # from depending on which threads happened to allocate.
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["@" + argfile, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", run_dir]
    out_log = os.path.join(run_dir, "engine.out")
    err_log = os.path.join(run_dir, "engine.err")
    with open(out_log, "w") as out, open(err_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(err_log) as fh:
            tail = [l for l in fh.read().splitlines()
                    if "set-up step" in l or "Exception" in l or "Error" in l]
        what = "timed out" if code is None else f"exited with {code}"
        fail(f"engine {what}\n" + "\n".join(tail[:12]), 3)
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


# ---- oracle compare (the registry's DuckDB oracle SQL) ---------------------

def _sort_repr(x):
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, _sort_repr(x)) for x in t))
    return out


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def oracle_failures(data_dir, out_dir):
    """Registry rows whose Spark output differs from the oracle SQL's."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if os.path.isdir(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name in sorted(oracle):
        try:
            cur = con.execute(oracle[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            cur = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            scols = [d[0] for d in cur.description]
            srows = cur.fetchall()
        except Exception as e:  # an oracle that cannot run is a failure too
            bad[name] = f"compare error: {e}"[:300]
            continue
        if sorted(ocols) != sorted(scols):
            bad[name] = f"columns {sorted(scols)} vs oracle {sorted(ocols)}"
            continue
        if len(orows) != len(srows):
            bad[name] = f"{len(srows)} rows vs oracle {len(orows)}"
            continue
        for i, (o, s) in enumerate(zip(_norm(orows, ocols), _norm(srows, scols))):
            if not all(_same(x, y) for x, y in zip(o, s)):
                bad[name] = f"row {i}: {s} vs oracle {o}"[:300]
                break
    return bad


# ---- metrics ---------------------------------------------------------------

def p50(latencies):
    """The Harrell-Davis estimate of the median: a weighted mean of all the
    order statistics, with the weights a Beta((n+1)/2, (n+1)/2) puts on
    each 1/n slice. A pass has a few operations of very different sizes;
    their plain median is the one operation that sorts in the middle and
    jumps when two neighbours swap, while this estimate moves smoothly.
    """
    xs = sorted(latencies)
    n = len(xs)
    a = (n + 1) / 2.0
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * (math.log(x) + math.log1p(-x)) - log_norm)

    steps = 64  # Simpson's rule on each slice
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / n / steps
        f = [pdf(lo + j * h) for j in range(steps + 1)]
        weights.append(h / 3 * (f[0] + f[-1] + 4 * sum(f[1:-1:2]) + 2 * sum(f[2:-1:2])))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(latencies):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p, xs[min(n - 1, int(math.ceil(p / 100.0 * n)) - 1)], n
    return 100.0, xs[-1], n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    started = time.time()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_engine(cp, args, run_dir,
                         DEADLINE_S - 15 - (time.time() - started))
        wrong = dict(res["check_failures"])
        info = res["info"]
        if "outputs" in info:
            wrong.update(oracle_failures(info["data_dir"], info["outputs"]))
        if args.trace:
            spans_dir = os.path.join(WORK, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    attempted = sum(o["n"] for o in ops.values())
    failed = sum(o["n"] if k in wrong else o["failed"] for k, o in ops.items())
    unknown = [k for k in wrong if k not in ops]
    lat = [x for o in ops.values() for x in o["latencies"]]
    p, tail_s, n = tail(lat)
    frac = failed / max(1, attempted)

    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(res["pass_s"]), "s"),
        "op_p50_s": (p50(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    print(f"workload {args.workload} seed {args.seed}: {len(res['pass_s'])} "
          f"passes, {attempted} operations on {res['cpus']} cores")
    print(f"  set-up: generate {' '.join(f'{x:.2f}' for x in res['generate_s'])} s, "
          f"warm-up {res['warmup_s']:.2f} s; passes "
          f"{' '.join(f'{x:.2f}' for x in res['pass_s'])} s; run {time.time() - started:.1f} s")
    for k, (v, u) in e2e.items():
        print(f"  {k:<18} {v:12.4f} {u}")
    print(f"  {'ops_failed_frac':<18} {frac:12.4f}   ({failed}/{attempted})")
    print(f"  op_tail_s is p{p:g} of {n} operation latencies")
    if "stored_bytes_ratio" in info:
        print(f"  stored_bytes_ratio {info['stored_bytes_ratio']:12.4f}   "
              "(warehouse bytes after a churn pass / indexed input bytes)")
    for k, o in sorted(ops.items()):
        print(f"    op {k:<36} x{o['n']:<3} median {statistics.median(o['latencies']):8.4f} s")
    for k in sorted(set(wrong) | {k for k, o in ops.items() if o["failed"]}):
        why = wrong.get(k) or ops[k]["error"]
        print(f"  FAILED {k}: {why}")

    if args.trace:
        layers = res["layers"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        print(f"  tracing overhead: {layers['trace.overhead_s']:+.4f} s per pass "
              f"(traced wall_s {statistics.median(res['pass_s']):.4f} - untraced "
              f"{statistics.median(res['untraced_after_s']):.4f} after it)")
        print(f"  spans: {spans}")
        if args.workload == "paper_flow":
            print(f"  stage seconds per pass, this benchmark ({info['train_rows']} + "
                  f"{info['test_rows']} rows, {info['num_trees']} trees of depth "
                  f"{info['max_depth']}) vs BASELINE.md (500 trees of depth 20):")
            for label, keys, ref in BASELINE_STAGES:
                print(f"    {label:<24} {sum(layers[k] for k in keys):9.3f} s   "
                      f"baseline {ref:8.2f} s")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not wrong and not unknown and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "spark.busy_cores":
        return "cores"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
