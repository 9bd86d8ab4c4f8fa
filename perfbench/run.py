#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the programme and the
benchmark's JVM side from source with sbt (``perfbench/build.sbt``); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from ``--seed`` under ``perfbench/.work/``, starts one JVM with a
``local[nproc]`` Spark session (``perfbench.Main``), checks every output,
and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it holds the run's context (not metrics). A traced run also writes
its spans and Spark counters to ``perfbench/.work/traces/`` and prints the
per-layer table on stderr.

Each workload does a fixed amount of work (on a 4-core box the timed
region takes about 45 s on cron_cycle and 20 s on query_tail), so that
every run measures the same thing; ``--seconds`` is recorded but does not
change the work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
XMX = "2g"
NPROC = len(os.sched_getaffinity(0))
RUN_DEADLINE_S = 170

# One query per operator family of README's index, drawn from the queries
# under 0.5 s at sf0.1 (q113, the cheapest graph query, stands in for the
# graph family, which has none).
QUERY_TAIL = [
    "q02_revenue_window", "q10_dedup_first", "q13_hourly_agg", "q18_pivot_wide",
    "q21_unit_convert", "q31_fingerprint", "q33_lang_id", "q36_simhash",
    "q40_media_features", "q73_kmeans_refine", "q112_exact_decontam",
    "q113_cooccur_edges", "q141_feature_hash", "q159_ewma_level",
]

WORKLOADS = {
    "cron_cycle": {"kind": "cron", "cycles": 2, "setups": 3, "gen": {}},
    "query_tail": {"kind": "queries", "sf": 0.01, "passes": 2, "setups": 3,
                   "queries": QUERY_TAIL},
}

E2E = {  # name -> unit, as in BENCHMARK.json
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "ok_frac": "ratio", "peak_rss_mb": "MiB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_digest():
    """Digest of every file the build reads: the programme's main sources
    and build definition, and the benchmark's own."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classpath(digest):
    cp_file = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # a fixed, pre-touched heap, so the resident set does not depend on how
    # far the collector happened to grow the heap in this run
    return (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             "-XX:+UnlockDiagnosticVMOptions",
             "-XX:GCLockerRetryAllocationCount=100", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}", "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "wh")]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", cp, "perfbench.Main"])


# ---- one run ---------------------------------------------------------------

def generate(spec, seed, data):
    t0 = time.monotonic()
    if spec["kind"] == "cron":
        info = gen.gen_cron(data, seed, spec["gen"])
    else:
        info = {"rows": gen.gen_tables(data, seed, spec["sf"])}
    return info, time.monotonic() - t0


def jvm_args(name, spec, info, data, work, out, trace):
    a = [f"workload={name}", f"data={data}", f"work={work}", f"out={out}",
         f"trace={trace}", f"setups={spec['setups']}"]
    if spec["kind"] == "cron":
        a += [f"cycles={spec['cycles']}", "stations=" + ",".join(info["workbook_stations"])]
        a += [f"expect.{k}={v}" for k, v in info["expect"].items()]
    else:
        a += [f"passes={spec['passes']}", "queries=" + ",".join(spec["queries"])]
    return a


def check_outputs(spec, res, work, data, cache):
    """Failure reason per query, from the oracle comparison."""
    if spec["kind"] != "queries":
        return {}
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's canonical oracle comparison
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    key = analysis.file_digest([os.path.join(data, f"{t}.parquet") for t in gen.TABLES])
    ran = sorted({o["name"] for o in res["ops"] if not o["failure"]})
    return analysis.check_queries(check.canon, con, ran, results, oracle, cache, key)


def latencies(spec, ops):
    """Per-operation latencies: one per query execution, or one per cron
    cycle (its three ticks, run back to back, are what a cron user waits
    for; single ticks of different kinds would make a bimodal sample)."""
    if spec["kind"] != "cron":
        return [o["s"] for o in ops]
    cycles = {}
    for o in ops:
        cycles[o["pass"]] = cycles.get(o["pass"], 0.0) + o["s"]
    return list(cycles.values())


def end_to_end(spec, res, setup_s):
    lat = latencies(spec, res["ops"])
    pct, tail = analysis.tail_percentile(lat)
    ok = sum(1 for o in res["ops"] if not o["failure"])
    return {
        "setup_s": setup_s,
        "wall_s": res["nums"]["wall_s"],
        "query_p50_s": analysis.median(lat),
        "query_tail_s": tail,
        "ok_frac": ok / len(res["ops"]),
        "peak_rss_mb": res["nums"]["peak_rss_mb"],
    }, pct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated benchmark must not leave its build or its JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    for need in ["src/main/scala/graft", "build.sbt", "tools/check.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    spec = WORKLOADS[args.workload]
    digest = source_digest()
    cp = classpath(digest)
    started = time.monotonic()  # the deadline leaves the one-off build out

    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (data, work, tmp):
        os.makedirs(d)
    info, gen_s = generate(spec, args.seed, data)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC), SPARK_LOCAL_DIRS=tmp)
    env.pop("GRAFT_LOG_DIR", None)
    cmd = java_cmd(cp, tmp) + jvm_args(args.workload, spec, info, data, work, out, args.trace)
    budget = RUN_DEADLINE_S - (time.monotonic() - started)
    steal0, t0 = cpu_steal(), time.monotonic()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {budget:.0f}s (log: {run_dir}/jvm.log)")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    steal_frac = ((cpu_steal() - steal0) / os.sysconf("SC_CLK_TCK")
                  / ((time.monotonic() - t0) * NPROC))
    if rc != 0 or not os.path.exists(out):
        fail(f"the JVM exited with {rc} (log: {run_dir}/jvm.log)")
    with open(out) as f:
        res = json.load(f)
    if res["aborted"] or not res["ops"]:
        fail(f"workload aborted: {res['aborted'] or 'no operations ran'}")

    wrong = check_outputs(spec, res, work, data, os.path.join(HERE, ".cache", "oracle"))
    for o in res["ops"]:
        if o["name"] in wrong and not o["failure"]:
            o["failure"] = "oracle mismatch: " + wrong[o["name"]]
    failures = [f"{o['name']}#{o['pass']}: {o['failure']}" for o in res["ops"] if o["failure"]]
    for f_ in failures:
        print(f"perfbench: FAILED {f_}", file=sys.stderr)

    nums = res["nums"]
    setup_s = nums["session_s"] + nums["warmup_s"]
    metrics, pct = end_to_end(spec, res, setup_s)
    units = dict(E2E)
    if args.trace:
        per = spec.get("cycles", 1) if spec["kind"] == "cron" else 1
        staged = info.get("staged_bytes", {}).get("tick_wsc", 0)
        metrics = analysis.per_layer(res, NPROC, "queries", per, staged)
        units = {k: analysis.unit_of(k) for k in metrics}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(res, f)
        for k, v in metrics.items():
            print(f"{k:32s} {v:16.4f} {units[k]}", file=sys.stderr)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": NPROC, "xmx": XMX,
        "commit": git_commit(), "source_digest": digest,
        "cal_s": round(nums.get("cal_s", -1.0), 3),
        "gen_s": round(gen_s, 3), "ops": len(res["ops"]), "tail_pct": round(pct, 1),
        "session_s": round(nums["session_s"], 3), "steal_frac": round(steal_frac, 4),
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def cpu_steal():
    """Cumulative CPU time (in clock ticks) this machine's hypervisor stole."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


if __name__ == "__main__":
    main()
