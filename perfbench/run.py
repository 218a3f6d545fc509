#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over `graft.SparkEntry.queries`.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1 [--smoke]

One run builds the engine and the harness from source if needed, prepares
the inputs, then launches one harness JVM. It sets up (session, one untimed
check pass, untimed warm-up passes), then runs timed passes for `--seconds`.
The check pass's output is compared with a golden hash per query. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`). Traced
runs also write every span to `.bench_build/trace/`. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
INPUTS = json.loads((HERE / "inputs.json").read_text())
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())   # metric names and units

REPLICA_FACTOR = 10    # dataplane input: graft.tools.ScaleUp of sf0.01
RUN_LIMIT_S = 170      # JVMs of a run once built and prepared; a run must end within 180 s
# |build + job-covered + driver gap - wall| per query, traced runs
RECONCILE_ABS_MS, RECONCILE_REL = 5.0, 0.01
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_FLAGS = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BenchError("no Spark jars with a Scala compiler (set SPARK_HOME)")


def build(jars, deadline):
    """Compiles the engine and the harness into a directory named after the
    hash of their sources; an existing directory is reused."""
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    res = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    log(f"compiling {len(srcs)} sources")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.args"
    args.write_text("\n".join(str(p) for p in srcs))
    cp = f"{jars}/*"
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", cp, f"@{args}"],
                       capture_output=True, text=True, timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    args.unlink()
    for p in res:
        dst = tmp / p.relative_to(ROOT / "src/main/resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(p, dst)
    tmp.rename(out)
    return out


# ---------------------------------------------------------------- inputs

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def table_path(data, t):
    p = Path(data) / f"{t}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def fingerprint(data):
    """Per-table row count and an order-independent checksum of every row."""
    con = duck()
    fp = {}
    for t in sorted(INPUTS["tables"]):
        src = f"read_parquet('{table_path(data, t)}')"
        cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        n, s = con.sql(f"SELECT count(*), sum(hash({', '.join(cols)}))::HUGEINT FROM {src}").fetchone()
        fp[t] = [int(n), str(s)]
    return fp


def java_cmd(classes, jars, heap, tmp, conf=(), young=None):
    # a fixed heap and young generation keep the resident set from following
    # the collector's adaptive sizing
    sizes = [f"-Xms{heap}", f"-Xmn{young}"] if young else []
    return (["java", *ADD_OPENS, *JVM_FLAGS, f"-Xmx{heap}", *sizes, f"-Djava.io.tmpdir={tmp}",
             *[f"-D{k}={v}" for k, v in conf], "-cp", f"{classes}:{jars}/*"])


def inputs(name, classes, jars, deadline):
    """Directory of the named input set. The base sets ship with the
    benchmark; the replica is generated once per checkout and regenerated
    when it is missing or its fingerprint does not match."""
    if name != "x10":
        data = HERE / "data" / name
        if fingerprint(data) != INPUTS["fingerprints"][name]:
            raise BenchError(f"input {name} does not match its fingerprint")
        return data
    data = BUILD / "data" / name
    want = INPUTS["fingerprints"][name]
    try:
        if fingerprint(data) == want:
            return data
    except Exception:   # missing or partly written: regenerate
        pass
    log(f"generating the x{REPLICA_FACTOR} replica")
    shutil.rmtree(data, ignore_errors=True)
    tmp = BUILD / "tmp" / "scaleup"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(classes, jars, "2g", tmp, [("spark.local.dir", tmp)]) + [
        "graft.tools.ScaleUp", str(HERE / "data" / "sf0.01"), str(data), str(REPLICA_FACTOR)]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp,
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus())),
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        raise BenchError("ScaleUp failed:\n" + r.stderr[-4000:])
    got = fingerprint(data)
    if got != want:
        raise BenchError(f"the regenerated replica does not match its fingerprint: {got}")
    return data


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- checks

def check_module():
    path = ROOT / "tools" / "check.py"
    if not path.exists():
        raise BenchError("tools/check.py (output normalization) is missing")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def goldens(data_name, data, queries, oracle_sql, chk):
    """Golden (columns, rows, hash) per query from its DuckDB oracle, cached
    per input fingerprint and SQL. Every workload query has an oracle."""
    out = {}
    con = None
    for q in queries:
        if q not in oracle_sql:
            raise BenchError(f"{q} has no oracle SQL to check its output against")
        key = hashlib.sha256(f"{json.dumps(INPUTS['fingerprints'][data_name])}\0"
                             f"{oracle_sql[q]}".encode()).hexdigest()[:20]
        cache = BUILD / "golden" / f"{q}-{key}.json"
        if not cache.exists():
            if con is None:
                con = duck()
                for t in INPUTS["tables"]:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data, t)}')")
            cols, n, h, _ = chk.table_sig(con.sql(oracle_sql[q]).df())
            cache.parent.mkdir(parents=True, exist_ok=True)
            cache.write_text(json.dumps({"cols": cols, "rows": n, "sha256": h}))
        out[q] = json.loads(cache.read_text())
    return out


def check_outputs(check_dir, queries, gold, chk, errors):
    """Failures of the check pass: exceptions and hash mismatches."""
    con = duck()
    bad = {}
    for q in queries:
        if q in errors:
            bad[q] = errors[q]
            continue
        cols, n, h, _ = chk.table_sig(
            con.sql(f"SELECT * FROM read_parquet('{check_dir / q}/*.parquet')").df())
        g = gold[q]
        if (cols, n, h) != (g["cols"], g["rows"], g["sha256"]):
            bad[q] = f"output mismatch: {n} rows {h[:12]} vs golden {g['rows']} rows {g['sha256'][:12]}"
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def beta_cdf(x, a, b):
    """Regularized incomplete beta I_x(a, b), by its continued fraction."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        else:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-30 else 1e-30)
        c = 1.0 + num / (c if abs(c) > 1e-30 else 1e-30)
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of all
    order statistics. On the 5-40 samples of a run it moves less from run
    to run than the sample median, which is one order statistic."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(s))


def tail(samples):
    """The highest whole percentile with at least 10 samples above its
    nearest rank, but never below p90: a run with fewer than 100 samples
    reports p90 and the count of samples above it."""
    n = len(samples)
    p = max([90] + [p for p in range(90, 100) if n - math.ceil(p * n / 100) >= 10])
    return quantile(samples, p / 100), p, n - math.ceil(p * n / 100)


def end_to_end(r, launched):
    passes = [p for p in r["passes"] if not p["traced"]]
    walls = [sum(q["wall_s"] for q in p["queries"]) for p in passes]
    samples = [q["wall_s"] for p in passes for q in p["queries"]]
    by_query = {}
    for p in passes:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q["wall_s"])
    t, pct, beyond = tail(samples)
    m = {
        "setup_s": r["setup_end_epoch_ms"] / 1e3 - launched,
        "pass_s": quantile(walls, 0.5),
        # each query's median, weighted alike: a pooled median of a few
        # queries is the middle query's, and moves with no other query
        "query_p50_s": statistics.geometric_mean([quantile(v, 0.5) for v in by_query.values()]),
        "query_tail_s": t,
        "cpu_s": quantile([sum(q["cpu_s"] for q in p["queries"]) for p in passes], 0.5),
        "rss_peak_mb": r["rss_peak_mb"],
    }
    counts = {"pass_s": len(walls), "query_p50_s": len(samples), "query_tail_s": len(samples),
              "cpu_s": len(walls)}
    notes = {"query_p50_s": f"geometric mean of the medians of {len(by_query)} queries",
             "query_tail_s": f"p{pct} ({beyond} samples above)"}
    return m, counts, notes


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def query_layers(q):
    """Per-query layer split from one traced query row."""
    t = q["trace"]
    c = t["counters"]
    start, built, end = t["start_ms"], t["built_ms"], t["end_ms"]
    jobs = t["jobs"]
    # a job without an end event counts as running to the query's end
    ivs = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else end) for j in jobs]
    exec_ivs = [(s, e) for s, e in ivs if s >= built]
    covered = union_ms(exec_ivs)
    # execute-span time covered by no job, from the sorted job intervals
    gap, cursor = 0.0, built
    for s, e in sorted(exec_ivs):
        gap += max(0.0, s - cursor)
        cursor = max(cursor, e)
    gap += max(0.0, end - cursor)
    wall = end - start
    stages = [s for s in t["stages"] if s["task_n"] > 0]
    final = t["executions"][-1]["plan"] if t["executions"] else {}
    return {
        "wall_ms": wall, "build_ms": built - start, "exec_covered_ms": covered, "gap_ms": gap,
        "unended_jobs": sum(1 for j in jobs if j["end_ms"] < 0),
        "reconcile_err_ms": (built - start) + covered + gap - wall,
        "ops.build_s": (built - start) / 1e3,
        "ops.build_jobs": sum(1 for s, _ in ivs if s < built),
        "catalyst.analysis_s": (t["build_analysis_ms"] + sum(e["analysis_ms"] for e in t["executions"])) / 1e3,
        "catalyst.optimization_s": sum(e["optimization_ms"] for e in t["executions"]) / 1e3,
        "catalyst.planning_s": sum(e["planning_ms"] for e in t["executions"]) / 1e3,
        "catalyst.executions": len(t["executions"]),
        **{f"plan.{k}": final.get(k, 0) for k in PLAN_KINDS},
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": c.get("tasks", 0),
        "sched.driver_gap_s": gap / 1e3,
        "sched.failed_tasks": c.get("failed_tasks", 0),
        "exec.task_s": c.get("task_ms", 0) / 1e3,
        "exec.cpu_s": c.get("cpu_ns", 0) / 1e9,
        "exec.gc_s": c.get("gc_ms", 0) / 1e3,
        "job_wall_s": union_ms(ivs) / 1e3,
        "stage_max_s": sum(s["task_max_ms"] for s in stages) / 1e3,
        "stage_mean_s": sum(s["task_sum_ms"] / s["task_n"] for s in stages) / 1e3,
        "shuffle.write_mb": c.get("shuffle_write_bytes", 0) / 2**20,
        "shuffle.write_records": c.get("shuffle_write_records", 0),
        "shuffle.read_mb": c.get("shuffle_read_bytes", 0) / 2**20,
        "shuffle.fetch_wait_s": c.get("fetch_wait_ms", 0) / 1e3,
        "spill.disk_mb": c.get("spill_disk_bytes", 0) / 2**20,
        "spill.mem_mb": c.get("spill_mem_bytes", 0) / 2**20,
        "scan.input_mb": c.get("input_bytes", 0) / 2**20,
        "scan.input_rows": c.get("input_records", 0),
        "cache.rdds_persisted": t["cache_rdds_persisted"],
        "cache.peak_mb": t["cache_peak_mb"],
        "cache.leaked": t["cache_leaked"],
        "jvm.gc_s": q["gc_s"],
    }


PLAN_KINDS = ["exchanges", "sorts", "windows", "broadcasts", "cached_scans", "nl_joins"]
SUMMED = ["ops.build_s", "ops.build_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
          "catalyst.planning_s", "catalyst.executions", "plan.exchanges", "plan.sorts",
          "plan.windows", "plan.broadcasts", "plan.cached_scans", "plan.nl_joins", "sched.jobs",
          "sched.stages", "sched.tasks", "sched.driver_gap_s", "sched.failed_tasks",
          "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb",
          "shuffle.fetch_wait_s", "spill.disk_mb", "spill.mem_mb", "scan.input_mb",
          "scan.input_rows", "cache.rdds_persisted", "cache.leaked", "jvm.gc_s"]


def per_layer(r, n_cpus):
    """Workload aggregates per traced pass (median over the run's traced
    passes), plus the run-level probes. Returns (metrics, per-query rows,
    reconciliation failures)."""
    rows, bad, per_pass = [], [], []
    for p in (p for p in r["passes"] if p["traced"]):
        ls = []
        for q in p["queries"]:
            l = query_layers(q)
            tol = RECONCILE_ABS_MS + RECONCILE_REL * l["wall_ms"]
            if abs(l["reconcile_err_ms"]) > tol:
                bad.append(f"{q['name']}: build+covered+gap-wall = {l['reconcile_err_ms']:.1f} ms > {tol:.1f} ms")
            if l["unended_jobs"]:
                bad.append(f"{q['name']}: {l['unended_jobs']} job(s) without an end event")
            rows.append({"name": q["name"], **l})
            ls.append((q["name"], l))
        agg = {k: sum(l[k] for _, l in ls) for k in SUMMED}
        agg["cache.peak_mb"] = max(l["cache.peak_mb"] for _, l in ls)
        job_wall = sum(l["job_wall_s"] for _, l in ls)
        agg["exec.util"] = agg["exec.task_s"] / (job_wall * n_cpus) if job_wall else 0.0
        smean = sum(l["stage_mean_s"] for _, l in ls)
        agg["exec.stage_skew"] = sum(l["stage_max_s"] for _, l in ls) / smean if smean else 0.0
        mr = [l for n, l in ls if n.startswith("mr_")]
        pairs = r.get("mapped_pairs", 0) * len(mr)
        agg["mapreduce.combine_ratio"] = (
            sum(l["shuffle.write_records"] for l in mr) / pairs if pairs else 0.0)
        agg["jvm.jit_s"] = p["jit_s"]
        agg["pass_wall_s"] = sum(q["wall_s"] for q in p["queries"])
        per_pass.append(agg)
    m = {k: median([a[k] for a in per_pass]) for k in per_pass[0]}
    untraced = [sum(q["wall_s"] for q in p["queries"]) for p in r["passes"] if not p["traced"]]
    m["trace.overhead"] = m.pop("pass_wall_s") / median(untraced)
    for k, v in r["kernels"].items():
        m[f"kernel.{k}_ns_row"] = v
    m["box.sentinel_s"] = median(r["sentinel_s"])
    return m, rows, bad


def spans(r, launched, run_end, rows_out):
    """run → {setup → {session, check, warm-up}, pass → query → {ops.build,
    execute} → job → stage}. A span's self time is its duration minus the
    part of it that its children cover."""
    out = []

    def add(kind, name, s, e, parent, **counters):
        out.append({"id": len(out), "parent": parent, "kind": kind, "name": name,
                    "start_ms": s, "end_ms": e, "dur_ms": e - s, **counters})
        return len(out) - 1

    root = add("run", "run", launched * 1e3, run_end * 1e3, None)
    setup = add("setup", "setup", launched * 1e3, r["setup_end_epoch_ms"], root)
    add("setup.session", "session", launched * 1e3, r["session_ready_epoch_ms"], setup)
    add("setup.check", "check pass", r["session_ready_epoch_ms"], r["check_end_epoch_ms"], setup,
        query_wall_s=r["check_wall_s"])
    add("setup.warmup", "warm-up passes", r["check_end_epoch_ms"], r["setup_end_epoch_ms"], setup,
        passes=r["warmup"])
    for pi, p in enumerate(r["passes"]):
        if not p["traced"]:
            continue
        ps = add("pass", f"pass{pi}", p["start_ms"], p["end_ms"], root, jit_s=p["jit_s"])
        for q in p["queries"]:
            t = q["trace"]
            qs = add("query", q["name"], t["start_ms"], t["end_ms"], ps,
                     counters=t["counters"], cache_leaked=t["cache_leaked"])
            bs = add("ops.build", q["name"], t["start_ms"], t["built_ms"], qs)
            es = add("execute", q["name"], t["built_ms"], t["end_ms"], qs)
            stage_by_id = {s["id"]: s for s in t["stages"]}
            for j in t["jobs"]:
                js = add("job", f"job{j['id']}", j["start_ms"], j["end_ms"],
                         bs if j["start_ms"] < t["built_ms"] else es, ok=j["ok"])
                for sid in j["stage_ids"]:
                    s = stage_by_id.get(sid)
                    if s and s["task_n"] > 0:
                        add("stage", f"stage{sid}", s["submit_ms"], s["end_ms"], js,
                            tasks=s["task_n"], task_sum_ms=s["task_sum_ms"],
                            task_max_ms=s["task_max_ms"])
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in out:
        covered = union_ms([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                            for c in children.get(s["id"], []) if c["end_ms"] > c["start_ms"]])
        s["self_ms"] = s["dur_ms"] - covered
    return {"spans": out, "queries": rows_out}


# ---------------------------------------------------------------- run

def box_probe(classes, jars, work, n_cpus, deadline):
    tmp = work / "probe"
    tmp.mkdir(exist_ok=True)
    p = subprocess.run(java_cmd(classes, jars, "2g", tmp) + [
        "graftbench.BoxProbe", str(n_cpus), str(tmp)], capture_output=True, text=True,
        cwd=tmp, timeout=max(1, deadline - time.time()))
    if p.returncode != 0:
        raise BenchError("box probe failed:\n" + p.stderr[-3000:])
    return float(p.stdout.strip().splitlines()[-1])


def run_workload(name, seed, seconds, trace, smoke):
    """One run of one workload: prints the report lines and returns the
    result object of the last stdout line."""
    started = time.time()
    w = WORKLOADS[name]
    jars = spark_jars()
    classes = build(jars, started + 800)
    data_name = "sf0.001" if smoke else w["data"]
    queries = [w["smoke"]] if smoke else w["queries"]
    data = inputs(data_name, classes, jars, started + 860)
    n_cpus = cpus()
    deadline = time.time() + RUN_LIMIT_S

    work = BUILD / "runs" / f"{name}-{seed}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(classes, jars, w["heap"], work / "tmp", sorted(w["conf"].items()), w["young"]) + [
        "graftbench.Harness", "--data", str(data), "--queries", ",".join(queries),
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--cpus", str(n_cpus), "--out", str(work / "out"), "--check-dir", str(work / "check")]
    # traced runs time the box probe before and after the workload
    sentinels = [box_probe(classes, jars, work, n_cpus, deadline)] if trace else []
    launched = time.time()
    with open(work / "stderr.log", "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=err, cwd=work,
                               timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"the run exceeded {RUN_LIMIT_S} s")
    if p.returncode != 0:
        raise BenchError(f"the harness JVM exited {p.returncode}:\n"
                         + (work / "stderr.log").read_text()[-3000:])
    r = json.loads((work / "out" / "result.json").read_text())
    run_end = time.time()
    if trace:
        sentinels.append(box_probe(classes, jars, work, n_cpus, deadline))
        r["sentinel_s"] = sentinels

    chk = check_module()
    gold = goldens(data_name, data, queries, r["oracle_sql"], chk)
    failures = [f"check {q}: {why}" for q, why in
                check_outputs(work / "check", queries, gold, chk, r["check_errors"]).items()]
    for p in r["passes"]:
        failures += [f"{q['name']}: {q['error']}" for q in p["queries"] if "error" in q]
    attempted = len(queries) + sum(len(p["queries"]) for p in r["passes"])

    if trace:
        metrics, rows, bad = per_layer(r, n_cpus)
        counts, notes = {}, {}
        trace_dir = BUILD / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_file = trace_dir / f"{name}-seed{seed}.json"
        trace_file.write_text(json.dumps(spans(r, launched, run_end, rows)))
        log(f"trace: {trace_file}")
        for b in bad:
            log(f"reconciliation failed: {b}")
        correct = not failures and not bad
    else:
        metrics, counts, notes = end_to_end(r, launched)
        correct = not failures
    for f in failures:
        log(f"FAILED {f}")
    declared = SPEC["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    for m in declared:
        k = m["name"]
        extra = " ".join(x for x in (notes.get(k, ""), f"n={counts[k]}" if k in counts else "") if x)
        print(f"{name} {k} = {metrics[k]:.6g} {m['unit']} {extra}".rstrip())
    print(f"{name} error_rate = {len(failures) / attempted:.6g} "
          f"({len(failures)} of {attempted} executions; every output checked)", flush=True)
    return {"correct": correct, "attempted": attempted, "failed": len(failures),
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="a workload, or all of them in turn (metrics then read workload/metric)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001, one query, one JVM: a fast self-test")
    a = ap.parse_args()
    if not (ROOT / "src/main/scala/graft/SparkEntry.scala").exists():
        raise BenchError(f"{ROOT} is not a graft source checkout (src/main/scala/graft missing)")
    if a.workload != "all":
        res = run_workload(a.workload, a.seed, a.seconds, a.trace, a.smoke)
    else:
        parts = {w: run_workload(w, a.seed, a.seconds, a.trace, a.smoke) for w in WORKLOADS}
        res = {"correct": all(r["correct"] for r in parts.values()),
               "attempted": sum(r["attempted"] for r in parts.values()),
               "failed": sum(r["failed"] for r in parts.values()),
               "metrics": {f"{w}/{k}": m for w, r in parts.items() for k, m in r["metrics"].items()}}
    print(json.dumps(res))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
