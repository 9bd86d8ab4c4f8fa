"""Pure helpers of the benchmark: statistics, call-site attribution, the
per-layer table, the oracle comparison and metric-name checks.

Nothing here starts Spark; ``test_analysis.py`` covers every helper.
"""
import hashlib
import json
import os
import re
import statistics

# graft's modules (src/main/scala/graft/<module>/), the layers a Spark job
# is attributed to by the innermost graft frame of its call site.
MODULES = ["queries", "tools", "pipeline", "ingest", "storage", "ops", "formula",
           "export", "core", "text", "sim", "graph", "plans", "multimodal",
           "streaming"]
# top-level graft objects and the module they belong with
TOP_LEVEL = {"SparkEntry": "queries", "Bench": "queries", "Verify": "queries",
             "Smoke": "queries", "PipelineDemo": "pipeline"}
# tick span -> the per-layer name of its median time
TICKS = {"tick.ingest": "ingest_tick", "tick.eccc": "eccc_tick",
         "tick.export": "export_daily"}

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$]+)(\.[A-Za-z0-9_$.]+)?\(")


def valid_name(name):
    """A metric or workload name: a letter or digit, then at most 63 of
    letters, digits, ``_``, ``.`` and ``-``."""
    return bool(_NAME.match(name))


def valid_unit(unit):
    return bool(_UNIT.match(unit))


def unit_of(metric):
    """The unit of a per-layer metric, from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric.split(".")[-1] in ("jobs", "stages", "tasks", "build_jobs"):
        return "count"
    return "ratio"


def median(values):
    return statistics.median(values)


def percentile(values, pct):
    """The ``pct`` percentile, interpolating linearly between order
    statistics (so the 50th is the median)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, at_least=10, cap=90.0):
    """The highest percentile that has at least ``at_least`` samples beyond
    it (capped at ``cap``), and its value: the order statistic with exactly
    ``at_least`` larger samples. With too few samples for that to lie above
    the median, the median (50) is returned, so a result always exists."""
    n = len(values)
    if n - 1 - at_least <= (n - 1) / 2:
        return 50.0, percentile(values, 50)
    pct = min(cap, 100.0 * (n - 1 - at_least) / (n - 1))
    return pct, percentile(values, pct)


def module_of(call_site):
    """The graft module of the innermost graft frame in a long call site
    (one frame per line, innermost first), or None when no frame is in
    graft — a job started by the benchmark's own code."""
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        head, rest = m.group(1), m.group(2)
        if rest and head in MODULES:
            return head
        if head.rstrip("$") in TOP_LEVEL:
            return TOP_LEVEL[head.rstrip("$")]
    return None


def union_ms(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] >= i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def per_layer(res, cores, default_module, per, staged_bytes=0):
    """Per-layer metrics of one traced run.

    ``res`` is the JVM's result (spans, jobs, stages, ops). Jobs outside
    the timed region (set-up, checks) are left out. Sums are divided by
    ``per`` (cycles on cron_cycle, 1 on query workloads); ``staged_bytes``
    is the input one ingest tick stages, the base of the store's write
    amplification. Jobs whose call
    site holds no graft frame were started by the benchmark on a query's
    behalf (its noop write), and count for ``default_module``.
    """
    spans = {s["id"]: s for s in res["spans"]}

    def in_timed(span_id):
        """Inside the timed region and not in a correctness check."""
        sid = int(span_id) if span_id not in ("", None) else -1
        while sid >= 0:
            if spans[sid]["name"] == "check":
                return False
            if spans[sid]["name"] == "timed":
                return True
            sid = spans[sid]["parent"]
        return False

    def root_of(span_id, names):
        sid = int(span_id) if span_id not in ("", None) else -1
        while sid >= 0:
            if spans[sid]["name"] in names:
                return spans[sid]
            sid = spans[sid]["parent"]
        return None

    stages = {s["id"]: s for s in res["stages"]}
    jobs = [j for j in res["jobs"] if in_timed(j["span"])]
    out = {}
    mod_iv = {m: [] for m in MODULES}
    for j in jobs:
        j["module"] = module_of(j["call_site"]) or default_module
        mod_iv[j["module"]].append((j["start_ms"], j["end_ms"]))
    for m in MODULES:
        out[f"{m}.job_s"] = union_ms(mod_iv[m]) / 1000.0 / per

    jstages = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    out["spark.jobs"] = len(jobs) / per
    out["spark.stages"] = len(jstages) / per
    out["spark.tasks"] = sum(s["tasks"] for s in jstages) / per
    run_ms = sum(s["run_ms"] for s in jstages)
    out["spark.task_run_s"] = run_ms / 1000.0 / per
    out["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in jstages) / 1e9 / per
    out["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in jstages) / per
    out["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in jstages) / per
    out["spark.spill_bytes"] = sum(s["spill"] for s in jstages) / per
    skews = [max(s["task_ms"]) / max(1.0, median(s["task_ms"]))
             for s in jstages if len(s["task_ms"]) >= 2]
    out["spark.stage_skew"] = max(skews) if skews else 1.0

    def timed_spans(*names):
        return [s for s in res["spans"] if s["name"] in names and in_timed(s["id"])]

    def span_s(*names):
        return sum((s["end_us"] - s["start_us"]) / 1e6 for s in timed_spans(*names))

    out["queries.build_s"] = span_s("queries.build") / per
    out["queries.plan_s"] = span_s("queries.plan") / per
    out["queries.exec_s"] = span_s("queries.exec") / per
    out["queries.build_jobs"] = sum(
        1 for j in jobs if root_of(j["span"], {"queries.build"})) / per

    # slot idleness over the spans that execute work: a query's exec, a tick
    busy = {"queries.exec"} | set(TICKS)
    busy_run_ms = sum(stages[s]["run_ms"] for j in jobs if root_of(j["span"], busy)
                      for s in j["stages"] if s in stages)
    busy_s = span_s(*busy)
    out["spark.slot_idle_frac"] = (
        1.0 - busy_run_ms / 1000.0 / (busy_s * cores) if busy_s > 0 else 0.0)

    # first execution minus second of the same query, summed
    by_q = {}
    for o in res["ops"]:
        if o["kind"] == "query":
            by_q.setdefault(o["name"], {})[o["pass"]] = o["s"]
    out["queries.first_run_extra_s"] = sum(
        p[1] - p[2] for p in by_q.values() if 1 in p and 2 in p) / per

    def jobs_ms(span, keep=lambda j: True):
        """Time in ``span`` with a (kept) Spark job running."""
        lo, hi = span["start_us"] / 1000.0, span["end_us"] / 1000.0
        return union_ms(clip((j["start_ms"], j["end_ms"]), lo, hi) for j in jobs if keep(j))

    def driver_ms(spans):
        """Time in ``spans`` with no Spark job running."""
        return sum((s["end_us"] - s["start_us"]) / 1000.0 - jobs_ms(s) for s in spans)

    # cron ticks: median tick time, and each tick's driver-only time and
    # time in jobs started from the tick CLIs themselves
    for name, kind in TICKS.items():
        short = name.split(".")[1]
        durs = [o["s"] for o in res["ops"] if o["kind"] == short]
        out[f"tools.{kind}_s"] = median(durs) if durs else 0.0
        out[f"tick.{short}.driver_s"] = driver_ms(timed_spans(name)) / 1000.0 / per
        out[f"tick.{short}.tools_job_s"] = sum(
            jobs_ms(s, lambda j: j["module"] == "tools") for s in timed_spans(name)) / 1000.0 / per
    # every operation's time with no Spark job running: a query, or a tick
    out["driver_s"] = driver_ms(timed_spans("query", *TICKS)) / 1000.0 / per

    # bytes the store and the exports wrote, from task output counters
    def written(module):
        return sum(stages[s]["written"] for j in jobs if j["module"] == module
                   for s in j["stages"] if s in stages)
    out["storage.bytes_written"] = written("storage") / per
    out["storage.write_amp"] = (
        written("storage") / per / staged_bytes if staged_bytes else 0.0)
    out["export.bytes_written"] = float(res["nums"].get("export_bytes", 0.0))
    out["trace.wall_s"] = res["nums"]["wall_s"]
    return out


# ---- oracle comparison ---------------------------------------------------

def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compare(spark_canon, oracle_canon):
    """Compare two canonical results (columns, sorted row tuples) as the
    repository's oracle check does; returns None when they agree, else a
    one-line reason."""
    scols, srows = spark_canon
    ocols, orows = oracle_canon
    if list(scols) != list(ocols):
        return f"columns {list(scols)} != {list(ocols)}"
    srows, orows = [list(r) for r in srows], [list(r) for r in orows]
    if srows != orows:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:2]
        return f"{len(srows)} vs {len(orows)} rows; first diffs: {diffs}"
    return None


def check_queries(canon, con, names, results_dir, oracle_sql, cache_dir, input_key):
    """Check every query's Spark output against its oracle SQL answer.

    ``canon(con, sql)`` is the repository's canonicaliser; oracle answers
    are cached under ``cache_dir`` keyed by the SQL text and ``input_key``
    (a digest of the input files). Returns {name: failure reason} for the
    queries that failed; queries without an oracle must still have output.
    """
    failures = {}
    for name in names:
        out = os.path.join(results_dir, name)
        if not os.path.isdir(out) or not any(f.endswith(".parquet") for f in os.listdir(out)):
            failures[name] = "no output"
            continue
        if name not in oracle_sql:
            continue
        try:
            got = canon(con, f"SELECT * FROM '{out}/*.parquet'")
            key = hashlib.sha256((oracle_sql[name] + "\0" + input_key).encode()).hexdigest()
            path = os.path.join(cache_dir, key + ".json")
            if os.path.exists(path):
                with open(path) as f:
                    want = json.load(f)
            else:
                want = canon(con, oracle_sql[name])
                os.makedirs(cache_dir, exist_ok=True)
                with open(path + ".tmp", "w") as f:
                    json.dump([list(want[0]), [list(r) for r in want[1]]], f)
                os.replace(path + ".tmp", path)
            why = compare(got, want)
        except Exception as e:  # a failing oracle or unreadable output is a failure
            why = f"error {e}"
        if why:
            failures[name] = why
    return failures
