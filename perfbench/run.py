#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload crack|olap|iterative|service \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the library and the
harness (sbt, offline) into perfbench/target. The inputs are generated here
from --seed; the JVM program (src/main/scala/graftbench) receives only them.
Every output is checked (crack and service against the generator's ground
truth, olap and iterative against result digests pinned in expected.json,
which check.py verified against the DuckDB oracles). The last line of
standard output is the result object; see README.md for the metrics.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import string
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# read-only input tables (TPC-H-shaped lake plus documents and events)
DATA_ROOT = os.environ.get("GRAFT_BENCH_DATA",
                           os.path.join(os.path.expanduser("~"), "testdata"))

OLAP = [f"q{i}_{n}" for i, n in [
    (1, "pricing_summary"), (2, "min_cost_supp"), (3, "shipping_priority"),
    (4, "order_priority"), (5, "local_supplier"), (6, "forecast_revenue"),
    (7, "nation_volume"), (8, "market_share"), (9, "product_profit"),
    (10, "returned_revenue"), (11, "important_parts"), (12, "ship_latency"),
    (13, "cust_distribution"), (14, "promo_share"), (15, "top_supplier"),
    (16, "supplier_census"), (17, "small_qty"), (18, "large_orders"),
    (19, "disjunctive"), (20, "heavy_suppliers"), (21, "sole_fault"),
    (22, "no_order_rich")]] + [
    "q_topk_native", "q_window_topk", "q_events_sessionize", "q_hll_distinct"]
ITERATIVE = [
    "q_pagerank", "q_pagerank_dangling", "q_hits", "q_sssp", "q_label_prop",
    "q_kcore", "q_bfs_dist", "q_louvain", "q_dedup_clusters", "q_corpus_build"]

# Per-workload parameters (README.md explains each choice).
WORKLOADS = {
    "crack": {"len": 5, "warm_requests": 8},
    "olap": {"queries": OLAP, "sf": "sf0.1"},
    "iterative": {"queries": ITERATIVE, "sf": "sf0.01", "passes": 2},
    # open loop: requests per second offered, about half of what the
    # pipeline sustains at local[4]
    "service": {"len": 4, "rate": 20.0, "warm_s": 4, "trigger_ms": 1000},
}
SMOKE_QUERIES = {"olap": ["q6_forecast_revenue", "q_hll_distinct"],
                 "iterative": ["q_pagerank", "q_dedup_clusters"]}

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
              "requests_per_s": "1/s"}
PER_LAYER = {
    "keyspace.kernel_keys_per_s": "1/s", "keyspace.ceiling_keys_per_s": "1/s",
    "keyspace.scantile_keys_per_s": "1/s", "crack.keys_per_s": "1/s",
    "crack.scan_ratio": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_gap_ms": "ms",
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s",
    "executor.busy_share": "share",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "cache.builds": "count", "cache.resident_mb": "MB",
    "streaming.batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.requests_per_batch": "count",
    "loadgen.late_ms": "ms", "loadgen.backlog_end": "count",
    "trace.overhead_share": "share",
    "self.request_ms": "ms", "self.catalyst_ms": "ms", "self.job_ms": "ms",
    "self.stage_ms": "ms", "self.task_ms": "ms",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "4g"
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a Spark
    installation (one with a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def cores():
    return len(os.sched_getaffinity(0))


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha1()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=880).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc {rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---- inputs --------------------------------------------------------------

def sha1_hex(s):
    return hashlib.sha1(s.encode("ascii")).hexdigest()


def num_to_pass(n, length):
    out = []
    for _ in range(length):
        out.append(chr(ord("a") + n % 26))
        n //= 26
    return "".join(reversed(out))


def crack_targets(rng, n, length):
    """Blocks of four targets in seeded order: three with a preimage, one
    from each third of the keyspace, and one without (the sha1 of a string
    with a digit, which no [a-z]^len string hashes to)."""
    size = 26 ** length
    out = []
    while len(out) < n:
        block = []
        for k in range(3):
            p = num_to_pass(rng.randrange(k * size // 3, (k + 1) * size // 3), length)
            block.append((sha1_hex(p), length, p))
        miss = "".join(rng.choice(string.ascii_lowercase) for _ in range(length))
        block.append((sha1_hex(miss + str(rng.randrange(10))), length, None))
        rng.shuffle(block)
        out += block
    return out[:n]


def make_inputs(workload, seed, seconds, smoke):
    """Returns (lines for the JVM, ground truth by request id)."""
    rng = random.Random(f"{workload}:{seed}")
    cfg = WORKLOADS[workload]
    lines, truth = [], {}
    if workload in ("crack", "service"):
        length = cfg["len"]
        if workload == "crack":
            warm_due = [0.0] * cfg["warm_requests"]
        else:
            # one request alone, then warm_s of the offered schedule
            gap = 1000.0 / cfg["rate"]
            warm_due = [-cfg["warm_s"] * 1000.0 - gap] + [
                -cfg["warm_s"] * 1000.0 + i * gap
                for i in range(int(cfg["warm_s"] * cfg["rate"]))]
        warm = crack_targets(random.Random(f"warm:{seed}"), len(warm_due), length)
        for i, ((h, n, p), d) in enumerate(zip(warm, warm_due)):
            lines.append(f"W\t{900000 + i}\t{h}\t{n}\t{d:.3f}")
        if workload == "crack":
            timed = crack_targets(rng, 4000, length)
            due = [0.0] * len(timed)
        else:
            count = max(1, int(seconds * cfg["rate"]))
            timed = crack_targets(rng, count, length)
            due = [i * 1000.0 / cfg["rate"] for i in range(count)]
        for i, ((h, n, p), d) in enumerate(zip(timed, due)):
            lines.append(f"T\t{i}\t{h}\t{n}\t{d:.3f}")
            truth[str(i)] = (h, n, p)
    else:
        queries = SMOKE_QUERIES[workload] if smoke else cfg["queries"]
        if not smoke:
            lines += [f"W\tw{i}\t{q}\t0" for i, q in enumerate(queries)]
        rid = 0
        for p in range(1 if smoke else 20):
            order = list(queries)
            rng.shuffle(order)
            for q in order:
                lines.append(f"T\t{rid}\t{q}\t{p}")
                truth[str(rid)] = q
                rid += 1
    return lines, truth


# ---- the JVM run ---------------------------------------------------------

def java_cmd(args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", cp, "graftbench.Main"] + args)


def run_jvm(workload, lines, seconds, trace, mode="bench", data=""):
    """Starts the JVM program; returns (launch epoch s, output record, stdout)."""
    run_dir = os.path.join(WORK, f"{mode}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    inputs = os.path.join(run_dir, "inputs.tsv")
    with open(inputs, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = os.path.join(run_dir, "out.json")
    args = ["--workload", workload, "--mode", mode, "--inputs", inputs,
            "--out", out, "--work", run_dir, "--data", data,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()),
            # a traced run already makes every request twice
            "--min-passes", str(1 if trace else WORKLOADS[workload].get("passes", 1)),
            "--trigger-ms", str(WORKLOADS[workload].get("trigger_ms", 0))]
    err_log = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(err_log, "w") as err:
        proc = subprocess.Popen(java_cmd(args, tmp), cwd=run_dir,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"{workload}: program did not finish in {RUN_LIMIT_S} s, log in {err_log}")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(err_log).read()[-4000:])
        fail(f"{workload}: program exited with rc {proc.returncode}, log in {err_log}")
    with open(out) as f:
        return launched, json.load(f), stdout


# ---- checks and metrics --------------------------------------------------

def check_crack(answer, truth):
    """Re-hash the verdict: a found password must hash to the target, and
    "x" is right only for a target generated without a preimage."""
    target, length, password = truth
    if answer == "x":
        return password is None
    return (answer is not None and len(answer) == length and answer.isalpha()
            and answer.islower() and sha1_hex(answer) == target)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, capped at
    p90 for runs of fewer than 100 samples (nearest rank)."""
    s = sorted(xs)
    n = len(s)
    pct = 100.0 * (1 - 10.0 / n) if n >= 100 else 90.0
    rank = max(1, math.ceil(pct / 100.0 * n))
    return s[rank - 1], pct, n - rank


def median(xs):
    return statistics.median(xs) if xs else 0.0


def useful_keys(answer, length):
    """Ordinals a scan must visit: up to the password, or all of them."""
    if answer == "x" or answer is None:
        return 26 ** length
    n = 0
    for c in answer:
        n = n * 26 + ord(c) - ord("a")
    return n + 1


def summarise(workload, seed, launched, out, truth, trace, expected):
    reqs = out["requests"]
    attempted = failed = wrong = 0
    answers = [("answer", "err")]
    if trace and workload != "service":
        answers.append(("traced_answer", "traced_err"))
    for r in reqs:
        for a, e in answers:
            attempted += 1
            if workload == "service":
                ok = r["replies"] == 1 and r["delivered_ms"] >= 0 and \
                    check_crack(r["answer"], truth[r["id"]])
            elif workload == "crack":
                ok = r.get(e) is None and check_crack(r[a], truth[r["id"]])
            else:
                ok = r.get(e) is None and r[a] == expected.get(r["query"])
            if not ok:
                failed += 1
                if r.get(a) is not None:
                    wrong += 1
                print(f"FAILED {workload} request {r['id']}: {json.dumps(r)[:300]}",
                      file=sys.stderr)
    if workload == "service":
        done = [r for r in reqs if r["delivered_ms"] >= 0]
        lat = [(r["delivered_ms"] - r["due_ms"]) / 1e3 for r in done]
        last = max([r["delivered_ms"] for r in done] or [1.0]) / 1e3
        rps = len(done) / last
    else:
        lat = [r["wall_s"] for r in reqs]
        rps = len(reqs) / out["window_s"]
    t, pct, beyond = tail(lat)
    e2e = {"setup_s": out["first_timed_ms"] / 1e3 - launched,
           "latency_p50_s": median(lat), "latency_tail_s": t,
           "requests_per_s": rps}
    report = {"workload": workload, "seed": seed, "samples": len(lat),
              "tail_percentile": round(pct, 2), "tail_samples_beyond": beyond,
              "error_rate": failed / max(1, attempted), "wrong": wrong,
              "window_s": out["window_s"]}
    if workload == "crack":
        report["keys_per_s"] = sum(useful_keys(r["answer"], r["len"])
                                   for r in reqs) / out["window_s"]
    report.update(e2e)
    if not trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        metrics = per_layer(workload, out, reqs)
        metrics = {k: {"value": metrics.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    print("REPORT " + json.dumps(report, sort_keys=True))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def per_layer(workload, out, reqs):
    m = {}
    if workload == "service":
        bs = [b for b in out["batches"] if b["input_rows"] > 0]
        for k in ("batch_ms", "planning_ms", "commit_ms", "state_commit_ms",
                  "state_rows", "state_mb"):
            m[f"streaming.{k}"] = median([b[k] for b in bs])
        m["streaming.requests_per_batch"] = median([b["input_rows"] for b in bs])
        layers = [b["layers"] for b in bs]
        cg = out["codegen_traced"]
        m["codegen.compiles"] = cg["compiles"] / max(1, len(bs))
        m["codegen.compile_ms"] = cg["compile_ms"] / max(1, len(bs))
        m["loadgen.late_ms"] = median([r["sent_ms"] - r["due_ms"] for r in reqs])
        m["loadgen.backlog_end"] = out["backlog_end"]
        half = out["trace_start_ms"]
        lat = lambda rs: median([r["delivered_ms"] - r["due_ms"] for r in rs
                                 if r["delivered_ms"] >= 0])
        before = lat([r for r in reqs if r["due_ms"] < half])
        after = lat([r for r in reqs if r["due_ms"] >= half])
        m["trace.overhead_share"] = after / before - 1 if before else 0.0
    else:
        layers = [r["layers"] for r in reqs]
        m["trace.overhead_share"] = (sum(r["traced_wall_s"] for r in reqs) /
                                     sum(r["wall_s"] for r in reqs) - 1)
    for k in layers[0] if layers else []:
        m.setdefault(k, median([x[k] for x in layers]))
    if "kernels" in out:
        m.update(out["kernels"])
    if workload == "crack":
        kernel = out["kernels"]["keyspace.kernel_keys_per_s"]
        keys = [useful_keys(r["answer"], r["len"]) for r in reqs]
        m["crack.keys_per_s"] = sum(keys) / sum(r["wall_s"] for r in reqs)
        m["crack.scan_ratio"] = median([r["layers"]["executor.cpu_s"] / (k / kernel)
                                        for r, k in zip(reqs, keys)])
    return m


def load_expected(workload):
    path = os.path.join(HERE, "expected.json")
    if workload not in ("olap", "iterative") or not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f).get(workload, {})


def data_dir(workload):
    if workload not in ("olap", "iterative"):
        return ""
    d = os.path.join(DATA_ROOT, WORKLOADS[workload]["sf"])
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"input tables not found in {d} (set GRAFT_BENCH_DATA)")
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimum-size run: fewest queries, no warm-up pass")
    a = ap.parse_args()
    build()
    data = data_dir(a.workload)
    expected = load_expected(a.workload)
    lines, truth = make_inputs(a.workload, a.seed, a.seconds, a.smoke)
    launched, out, stdout = run_jvm(a.workload, lines, a.seconds, a.trace, data=data)
    for line in stdout.splitlines():
        if line.startswith("SETTINGS "):
            print(line)
    result = summarise(a.workload, a.seed, launched, out, truth, a.trace, expected)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
