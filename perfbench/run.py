#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop, single-client workload per run.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload integrate --seed 1 --seconds 10 --trace 0

Workloads: integrate, crawl_delta (see perfbench/README.md). The first
run in a checkout builds graft and the harness with sbt; later runs reuse
the build while the sources are unchanged. Inputs are generated from
--seed, the program runs a fixed number of ops per --seconds on
`local[min(4, nproc)]`, its outputs are checked, and the last stdout line
is the result JSON. --trace 1 reports the per-layer metrics instead of the
end-to-end ones. A failed run keeps its inputs, outputs and JVM log under
.perfbench/runs/.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("integrate", "crawl_delta")
SETUP_REPS = 3
# ops per second of --seconds: what a 10 s run reached on the machine the
# benchmark was written on. The count depends on --seconds only, so every
# program measures the same ops; no op starts after CAP x --seconds.
OPS_PER_S = {"integrate": 0.6, "crawl_delta": 0.3}
CAP = 3
# warm-up ops at set-up, on inputs the timed phase never sees, so the timed
# ops do not pay the first calls' class loading and compilation
WARMUPS = {"integrate": 4, "crawl_delta": 1}
XMX = "3g"
JVM_TIMEOUT_S = 150
# what Spark's launcher adds on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build compiles: the key of the cached build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; return the run classpath."""
    digest = source_digest()
    cp_file = os.path.join(STATE, "build", f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=lf, stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# -------------------------------------------------------------------- inputs

GEN = {
    "integrate": {"import_rows": 2000, "update_rows": 400, "n_orders": 30000, "per_step": 1},
    "crawl_delta": {"n_base": 400, "inc_docs": 100},
}


def generate(workload, seed, inputs, n_ops):
    """Inputs for `n_ops` timed ops plus the warm-up's."""
    import gen
    kw = GEN[workload]
    if workload == "integrate":
        # the warm-up imports the last cycles
        expect, stats = gen.gen_integrate(inputs, seed, n_ops + WARMUPS[workload],
                                          kw["import_rows"], kw["update_rows"])
        rows, nbytes = gen.gen_tables(os.path.join(inputs, "tables"), seed, kw["n_orders"])
        steps, repeat_share = gen.gen_sql_steps(seed, n_ops, kw["per_step"])
        warm = [step for k in range(2) for step in
                gen.gen_sql_steps(seed + 7_000_000 * (k + 1), n_ops, kw["per_step"])[0]]
        with open(os.path.join(inputs, "steps.json"), "w") as f:
            json.dump({"steps": steps, "saved": gen.SAVED,
                       "warmup": [st for step in warm for st in step]}, f)
        stats.update({"table_rows": rows, "table_bytes": nbytes,
                      "statements_per_step": kw["per_step"],
                      "sql_templates": len(gen.SQL_TEMPLATES), "saved_queries": len(gen.SAVED),
                      "sql_exact_repeat_share": repeat_share})
    else:
        expect, stats = gen.gen_crawl(inputs, seed, kw["n_base"], n_ops, kw["inc_docs"],
                                      WARMUPS[workload])
        with open(os.path.join(inputs, "crawl.json"), "w") as f:
            json.dump({"increments": expect["increments"], "warmup": expect["warmup"]}, f)
    return expect, stats


# ------------------------------------------------------------------- metrics

def actions_ms(workload, op):
    """Latencies of the user actions in one op: an integrate step is an
    import, an update, its statements and their reports; a crawl_delta op
    is one increment."""
    if workload == "crawl_delta":
        return [op["ms"]]
    return [op["import_ms"], op["update_ms"]] + [st["ms"] for st in op["statements"]] + [
        st["report_ms"] for st in op["statements"] if st["report"]]


def items(workload, op, gen_kw):
    """Work done by one op: rows imported and updated, or docs ingested."""
    if workload == "integrate":
        return op["import_rows"] + op["update_rows"]
    return gen_kw["inc_docs"]


def summarize(workload, ops, res, gen_s, launch_ms, details, stats, gen_kw):
    """End-to-end metrics over the untraced `ops` (the same fixed op
    sequence on every program), and the workload's named figures."""
    lat = [a for o in ops for a in actions_ms(workload, o)]
    n_items = sum(items(workload, o, gen_kw) for o in ops)
    session_s = (res["session_ready_ms"] - launch_ms) / 1000.0
    once_s = res["extra"].get("setup_once_s", 0.0)
    e2e = {
        "setup_s": gen_s + session_s + once_s + statistics.median(res["setup_reps_s"]),
        "action_p50_ms": statistics.median(lat),
        "items_per_s": statistics.median(items(workload, o, gen_kw) / (o["ms"] / 1000.0)
                                         for o in ops),
        # a mean, not a median: the ops differ from one another, and the
        # sequence is the same on every program
        "cpu_ms_per_op": statistics.mean(o["cpu_ms"] for o in ops),
        "heap_retained_mb": res["heap_retained_mb"],
    }
    # workload-specific figures, printed beside the gated metrics. Wall
    # latency and throughput are here, not gated: on a shared VM they swing
    # with host contention between runs (see host_steal_s), while process
    # CPU per op holds.
    named = {"action_p50_ms": e2e["action_p50_ms"], "items_per_s": e2e["items_per_s"],
             "cpu_s": res["cpu_s"], "session_s": session_s, "gen_s": gen_s,
             "setup_once_s": once_s, "setup_reps_s": res["setup_reps_s"],
             "ops": len(ops), "samples": len(lat), "op_ms": [o["ms"] for o in ops],
             "op_cpu_ms": [o["cpu_ms"] for o in ops], "op_jit_ms": [o["jit_ms"] for o in ops],
             "op_gc_ms": [o["gc_ms"] for o in ops]}
    if workload == "integrate":
        named["import_rows_per_s"] = sum(o["import_rows"] for o in ops) / (
            sum(o["import_ms"] for o in ops) / 1000.0)
        named["update_rows_per_s"] = sum(o["update_rows"] for o in ops) / (
            sum(o["update_ms"] for o in ops) / 1000.0)
        named["stored_bytes_per_row"] = details["table_bytes"] / max(details["final_rows"], 1)
        sql_lat = [st["ms"] for o in ops for st in o["statements"]]
        rep_lat = [st["report_ms"] for o in ops for st in o["statements"] if st["report"]]
        named["sql_p50_ms"] = statistics.median(sql_lat)
        named["sql_p90_ms"] = statistics.quantiles(sql_lat, n=10, method="inclusive")[8]
        named["sql_samples"] = len(sql_lat)
        named["report_p50_ms"] = statistics.median(rep_lat) if rep_lat else None
        named["report_samples"] = len(rep_lat)
    else:
        named["corpus_docs_per_s"] = stats["raw_docs"] / res["extra"]["prepare_s"]
        named["prepare_s"] = res["extra"]["prepare_s"]
        named["delta_p50_s"] = statistics.median(lat) / 1000.0
        named["delta_docs_per_s"] = n_items / (sum(lat) / 1000.0)
        indexed = stats["standing_docs"] + len(ops) * stats["increment_docs"]
        named["stored_bytes_per_row"] = res["extra"]["index_bytes"] / indexed
    return e2e, named


# units of the named figures printed beside the gated metrics
NAMED_UNITS = {
    "action_p50_ms": "ms", "items_per_s": "1/s", "cpu_s": "s", "session_s": "s",
    "gen_s": "s", "setup_once_s": "s", "setup_reps_s": "s", "ops": "count",
    "samples": "count", "op_ms": "ms", "op_cpu_ms": "ms", "op_jit_ms": "ms", "op_gc_ms": "ms", "import_rows_per_s": "rows/s",
    "update_rows_per_s": "rows/s", "stored_bytes_per_row": "bytes/row", "sql_p50_ms": "ms",
    "sql_p90_ms": "ms", "sql_samples": "count", "report_p50_ms": "ms",
    "report_samples": "count", "corpus_docs_per_s": "docs/s", "prepare_s": "s",
    "delta_p50_s": "s", "delta_docs_per_s": "docs/s", "error_rate": "ratio",
    "run_wall_s": "s", "jvm_wall_s": "s", "host_steal_s": "s"}


def declared(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over cpus: a
    run that lost much of it measured a contended machine."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    wall0 = time.perf_counter()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "harness", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a graft checkout")
    cores = nproc()
    threads = min(4, cores)  # never more threads than cpus
    n_ops = max(1, round(OPS_PER_S[args.workload] * args.seconds))

    cp = build()
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (inputs, work, tmp, local):
        os.makedirs(d)
    keep = True  # until the run ends correct
    try:
        t0 = time.perf_counter()
        expect, stats = generate(args.workload, args.seed, inputs, n_ops)
        gen_s = time.perf_counter() - t0

        out = os.path.join(run_dir, "raw.json")
        cmd = ["java", *ADD_OPENS, f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               "-Djdk.lang.Process.launchMechanism=FORK",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
               "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
               args.workload, inputs, work, str(n_ops), str(CAP * args.seconds),
               str(args.trace), str(threads), str(SETUP_REPS), out]
        launch_ms = time.time() * 1000.0
        steal0 = steal_s()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, cwd=run_dir)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"harness exited with {rc}", 1)
        jvm_s = time.time() - launch_ms / 1000.0
        steal = steal_s() - steal0
        with open(out) as f:
            res = json.load(f)
        if not res["ops"]:
            die("no op completed in the timed phase", 1)

        import oracle
        gen_kw = GEN[args.workload]
        # a traced run times the ops untraced, then again traced on fresh
        # state; the outputs left behind are the last phase's
        plain = [o for o in res["ops"] if not o["traced"]]
        last = [o for o in res["ops"] if o["traced"] == bool(args.trace)]
        if args.workload == "integrate":
            bad, details = oracle.check_integrate(res, inputs, args.seed, gen_kw, len(last))
        else:
            bad, details = oracle.check_crawl(res, expect)
        attempted = len(res["ops"]) + res["failed"]
        failed = len(bad) + res["failed"]
        correct = failed == 0

        e2e, named = summarize(args.workload, plain, res, gen_s, launch_ms, details, stats,
                               gen_kw)
        named["error_rate"] = failed / attempted
        layers = dict(res["layers"])
        if args.workload == "crawl_delta":
            layers["delta.pair_recall"] = details["pair_recall"]
        if args.trace:
            def p50(ops):
                return statistics.median(a for o in ops for a in actions_ms(args.workload, o))
            layers["trace.overhead_pct"] = 100.0 * (p50(last) / p50(plain) - 1.0)
        shown = layers if args.trace else e2e
        metrics = {k: {"value": float(shown.get(k, 0.0)), "unit": u}
                   for k, u in declared("per_layer" if args.trace else "end_to_end")}

        named["run_wall_s"] = time.perf_counter() - wall0
        named["jvm_wall_s"] = jvm_s
        named["host_steal_s"] = steal
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "correct": correct, "attempted": attempted,
            "failed": failed, "errors": res["errors"][:10],
            "stamp": dict(res["stamp"], nproc=cores, threads=threads, xmx=XMX,
                          setup_reps=SETUP_REPS, ops=n_ops, capped=res["capped"],
                          git_commit=git_commit(), source_digest=source_digest()),
            "inputs": stats, "checks": details, "end_to_end": e2e, "named": named,
            "layers": layers}
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        rec_path = os.path.join(STATE, "results",
                                f"{args.workload}-s{args.seed}-t{args.trace}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(STATE, "results",
                                     f"{args.workload}-s{args.seed}-spans.json"))
        print(json.dumps({"record": rec_path, "checks": details,
                          "named": {k: {"value": v, "unit": NAMED_UNITS[k]}
                                    for k, v in named.items()},
                          "inputs": stats}, default=str))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        keep = not correct
    finally:
        if keep:
            print(f"perfbench: run directory kept: {run_dir}", file=sys.stderr)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
