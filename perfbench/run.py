#!/usr/bin/env python3
"""The repository benchmark: the reference cooling DAG on a parquet hot
store, and a slice of the query battery.

Usage (from the repository root):

    python3 perfbench/run.py --workload cool_parquet --seed 1 --seconds 20 --trace 0

Builds the program with its own sbt build and the JVM harness in
perfbench/harness (only when their sources changed), makes the seeded
inputs, runs the workload in one fresh JVM and checks every output. The last
stdout line is one JSON object: correct, attempted, failed and the metrics
(end-to-end ones with --trace 0, per-layer ones with --trace 1). Everything
else goes to stderr, and the full run record (host, samples, spans) to
.bench_build/runs/. `--inject corrupt-cold` is the negative check: the cold
copy is damaged after each export, and the run must report failures.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
PROGRAM_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
# written by the harness build: its classes, the program's and the Spark jars
CLASSPATH_FILE = os.path.join(BUILD, "harness", "classpath.txt")
RUN_LIMIT_S = 170.0
HEAP = "3g"
BATTERY_SF = 0.01

# Per workload: the op kind the latency metrics describe, and the nominal
# cost of one measured cycle on a 4-cpu host, which fixes the cycle count
# from --seconds (so a faster program does the same work, not more).
WORKLOADS = {
    "cool_parquet": {"op": "cool_run", "cycle_s": 10.0},
    "battery": {"op": "query", "cycle_s": 7.0},
}
Q3_QUERIES = ("q3_federation", "y3_yql_federation")
ADD_OPENS = [a for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Content hash of everything the two builds read."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HARNESS)
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java", ".sbt"))]
    files.append(os.path.join(HARNESS, "project", "build.properties"))
    for f in files:
        if os.path.exists(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isfile(CLASSPATH_FILE) and os.path.isdir(PROGRAM_CLASSES)):
        return stamp
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        for cwd, tasks in ((ROOT, ["compile"]), (HARNESS, ["compile", "writeClasspath"])):
            t0 = time.time()
            r = run_waited(["sbt", "-batch"] + tasks, cwd=cwd, env=sbt_env(),
                           stdout=out, stderr=subprocess.STDOUT, timeout=800)
            log(f"built {os.path.relpath(cwd, ROOT) or '.'} in {time.time() - t0:.1f} s (exit {r})")
            if r != 0:
                fail(3, f"build failed in {cwd}; see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def run_waited(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ---------------------------------------------------------------- host

def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


def steal_s():
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# ---------------------------------------------------------------- battery oracle

def check_battery(work, data):
    """Compares each validated battery result with its DuckDB oracle SQL over
    the same parquet tables: same columns, same row count, same values as
    multisets (rows sorted). Returns the names that failed and the validated
    row count of each query."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad, rows = [], {}
    for name, sql in sorted(oracles.items()):
        why, rows[name] = compare_one(con, sql, os.path.join(work, "out", name))
        if why:
            bad.append(name)
            log(f"oracle mismatch {name}: {why}")
    return bad, rows


def compare_one(con, sql, out_dir):
    """(why it differs or None, rows in the validated result)."""
    if not sql:
        return "no oracle SQL", None
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return "no result written", None
    sdf = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df()
    try:
        ddf = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
        return f"duckdb error: {e}", len(sdf)
    ddf = ddf.reindex(sorted(ddf.columns), axis=1)
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    if list(ddf.columns) != list(sdf.columns):
        return f"columns {list(ddf.columns)} vs {list(sdf.columns)}", len(sdf)
    if len(ddf) != len(sdf):
        return f"rows {len(ddf)} vs {len(sdf)}", len(sdf)
    if len(ddf) == 0:
        return None, 0
    ddf = ddf.sort_values(by=list(ddf.columns)).reset_index(drop=True)
    sdf = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True)
    for c in ddf.columns:
        a, b = ddf[c], sdf[c]
        try:
            same = ((a.isna() & b.isna()) | (a.astype(object) == b.astype(object))).all()
        except Exception:  # noqa: BLE001 - unhashable cells compare as text
            same = (a.astype(str) == b.astype(str)).all()
        if not same:
            return f"values differ in {c}", len(sdf)
    return None, len(sdf)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, as (value, percentile, sample count); (None, None, n) when no
    percentile has ten samples beyond it."""
    n = len(xs)
    ps = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100.0 >= 10]
    if not ps:
        return None, None, n
    return statistics.quantiles(xs, n=100, method="inclusive")[ps[-1] - 1], ps[-1], n


def dur(sp):
    return sp["end_s"] - sp["start_s"]


def add_self_times(spans, kids):
    """Self time of each span: its duration minus the part of it that its
    child spans cover."""
    for sp in spans:
        covered, end = 0.0, sp["start_s"]
        for k in sorted(kids.get(sp["id"], []), key=lambda k: k["start_s"]):
            lo, hi = max(k["start_s"], end), min(k["end_s"], sp["end_s"])
            if hi > lo:
                covered, end = covered + hi - lo, hi
        sp["self_s"] = dur(sp) - covered


def per_layer(rec, workload, cores, declared):
    """Per-layer metrics from the traced cycles' spans: means per cooling run,
    per Q3 and per battery query, and per pass for the query families that
    `declared` names (`family.<module>.s`)."""
    spans = rec["spans"]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    add_self_times(spans, kids)

    def tree(sp):
        out, todo = [], [sp]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x["id"], [])
        return out

    def children(sp, *names):
        return [t for k in kids.get(sp["id"], []) if k["name"] in names for t in tree(k)]

    def per_op(ops, f):
        return mean([f(o) for o in ops])

    def total(items, key):
        return sum(x.get(key, 0.0) for x in items)

    roots = [sp for sp in spans if sp["id"] == sp["op"]]
    runs = [sp for sp in roots if sp["name"] == "run"]
    q3s = [sp for sp in roots if sp["name"] == "q3" or sp["name"][len("query:"):] in Q3_QUERIES]
    queries = [sp for sp in roots if sp["name"].startswith("query:")]
    cooled = per_op(runs, lambda r: r.get("rows_cooled", 0.0))
    m = {}
    # graft.pipeline and graft.sources (export, drop, advance, report count)
    # and graft.operators (the reconcile's exclusion join), per cooling run
    for step, names in (("export", ("export",)), ("reconcile", ("reconcile",)),
                        ("drop", ("list", "drop")), ("advance", ("advance",)),
                        ("report_count", ("report_count",))):
        m[f"{step}.s"] = per_op(runs, lambda r: sum(dur(k) for k in kids.get(r["id"], [])
                                                    if k["name"] in names))
    for key, name in (("jobs", "jobs"), ("rows_read", "rows_read"), ("bytes_written", "bytes_written")):
        m[f"export.{name}"] = per_op(runs, lambda r: total(children(r, "export"), key))
    m["export.files_written"] = per_op(runs, lambda r: r.get("cold_files", 0.0))
    m["export.bytes_per_row"] = per_op(runs, lambda r: r.get("cold_bytes", 0.0)) / cooled if cooled else 0.0
    for key, name in (("jobs", "jobs"), ("rows_read", "rows_read"),
                      ("shuffle_write_bytes", "shuffle_bytes"), ("spill_bytes", "spill_bytes")):
        m[f"reconcile.{name}"] = per_op(runs, lambda r: total(children(r, "reconcile"), key))
    m["reconcile.task_s_max"] = per_op(
        runs, lambda r: max([k.get("task_s_max", 0.0) for k in children(r, "reconcile")] or [0.0]))
    m["run.jobs"] = per_op(runs, lambda r: total(tree(r), "jobs"))
    m["run.tasks"] = per_op(runs, lambda r: total(tree(r), "tasks"))
    m["run.rows_read_per_row_cooled"] = \
        per_op(runs, lambda r: total(tree(r), "rows_read")) / cooled if cooled else 0.0
    m["run.steps_s"] = per_op(runs, lambda r: sum(k["self_s"] for k in tree(r) if k is not r))
    m["run.self_s"] = per_op(runs, lambda r: r["self_s"])
    # federated Q3: the cooling workload's Q3, the battery's Q3_QUERIES
    m["q3.plan_s"] = per_op(q3s, lambda q: sum(dur(k) for k in kids.get(q["id"], [])
                                               if k["name"] in ("q3.plan", "plan")))
    m["q3.exec_s"] = per_op(q3s, lambda q: sum(dur(k) for k in kids.get(q["id"], [])
                                               if k["name"] in ("q3.exec", "exec")))
    m["q3.bytes_read"] = per_op(q3s, lambda q: total(tree(q), "bytes_read"))
    m["q3.tasks"] = per_op(q3s, lambda q: total(tree(q), "tasks"))
    # graft.queries, graft.yql and graft.plans, per battery query
    for phase in ("build", "plan", "exec"):
        m[f"query.{phase}_s"] = per_op(queries, lambda q: sum(
            dur(k) for k in kids.get(q["id"], []) if k["name"] == phase))
    for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                      ("shuffle_write_bytes", "shuffle_bytes"), ("spill_bytes", "spill_bytes")):
        m[f"query.{name}"] = per_op(queries, lambda q: total(tree(q), key))
    busy = per_op(queries, lambda q: total(tree(q), "task_s"))
    m["query.task_busy_frac"] = busy / (m["query.exec_s"] * cores) if m["query.exec_s"] else 0.0
    m["query.cached_bytes"] = per_op(queries, lambda q: q.get("cached_bytes", 0.0))
    passes = max(1, sum(1 for c in rec["cycles"] if c["phase"] == "traced"))
    for name in declared:
        if name.startswith("family.") and name.endswith(".s"):
            mod = name[len("family."):-len(".s")]
            m[name] = sum(dur(sp) for sp in roots if sp["name"] == f"family:{mod}") / passes
    # traced minus untraced median of the workload's operation
    kind = WORKLOADS[workload]["op"]
    by_phase = {ph: [o["s"] for o in rec["ops"] if o["kind"] == kind and o["phase"] == ph and o["ok"]]
                for ph in ("traced", "untraced")}
    m["trace.overhead_s"] = median(by_phase["traced"]) - median(by_phase["untraced"])
    m["jvm.gc_s"] = rec["values"].get("jvm.gc_s", 0.0)
    m["jvm.heap_peak_mb"] = rec["values"].get("jvm.heap_peak_mb", 0.0)
    return m


def end_to_end(rec, workload, setups):
    """End-to-end metrics from the untraced cycles; the op is a cooling run
    on the cooling workloads and one query on the battery."""
    kind = WORKLOADS[workload]["op"]
    ops = [o for o in rec["ops"] if o["phase"] == "untraced" and o["ok"]]
    op_s = [o["s"] for o in ops if o["kind"] == kind]
    q3 = [o["s"] for o in ops if o["kind"] == "q3" or o["name"] in Q3_QUERIES]
    t, p, n = tail(op_s)
    info = {"op_s.tail": t, "op_s.tail_percentile": p, "op_s.samples": n, "q3_s.samples": len(q3),
            "setup_s.samples": len(setups)}
    m = {
        "setup_s": median(setups),
        "op_s.p50": median(op_s),
        "cycle_s": median([c["s"] for c in rec["cycles"] if c["phase"] == "untraced"]),
        "q3_s.p50": median(q3),
        "warmup_s": rec["values"].get("warmup_s", 0.0),
        "peak_rss_mb": rec["values"].get("jvm.rss_peak_mb", 0.0),
    }
    return m, info


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "corrupt-cold"), default="none")
    args = ap.parse_args()
    t_start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"no program source next to {HERE} (build.sbt, src/main/scala/graft); nothing to measure")
    with open(spec_path) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    cfg = WORKLOADS[args.workload]
    steal0 = steal_s()
    host = {"nproc": os.cpu_count(), "loadavg_start": loadavg(), "heap": HEAP,
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inject": args.inject,
            "source_sha256": build(), "commit": git_commit()}
    t_run = time.time()

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cycles = max(1, int(round(args.seconds / cfg["cycle_s"])))
    jargs = ["--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
             "--cycles", str(cycles), "--work", work, "--out", os.path.join(work, "record.json"),
             "--inject", args.inject]
    if args.workload == "battery":
        # the battery's tables; the program's load of them is timed in the JVM
        sys.dont_write_bytecode = True
        sys.path.insert(0, HERE)
        import gen_battery
        data = os.path.join(work, "data")
        gen_battery.write(data, args.seed, BATTERY_SF)
        jargs += ["--data", data]
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    cmd = ["java"] + ADD_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main"] + jargs
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()),
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    runs_dir = os.path.join(BUILD, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.inject}"
    jvm_log = os.path.join(runs_dir, f"{name}.jvm.log")
    with open(jvm_log, "w") as out:
        rc = run_waited(cmd, timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_run)),
                        cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
    rec_path = os.path.join(work, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(4, f"harness JVM exited {rc} without a record")
    with open(rec_path) as fh:
        rec = json.load(fh)

    # every measured op counts; a query whose validated result failed the
    # oracle check fails in every pass, and every timed execution must return
    # the validated row count
    bad, rows = check_battery(work, data) if args.workload == "battery" else ([], {})
    measured = [o for o in rec["ops"] if o["kind"] in (cfg["op"], "q3")]
    for o in measured:
        o["ok"] = o["ok"] and o["name"] not in bad and (
            o["kind"] != "query" or o["rows"] == rows.get(o["name"]))
    attempted = len(measured)
    failed = sum(1 for o in measured if not o["ok"])
    setups = rec["setup_s"]
    if args.trace:
        metrics, info = per_layer(rec, args.workload, os.cpu_count(), [d["name"] for d in declared]), {}
    else:
        metrics, info = end_to_end(rec, args.workload, setups)
    correct = not rec["errors"] and not bad and failed == 0 and attempted > 0
    host["loadavg_end"] = loadavg()
    host["cpu_steal_s"] = steal_s() - steal0
    host["wall_s"] = time.time() - t_start
    with open(os.path.join(runs_dir, f"{name}.json"), "w") as fh:
        json.dump({"host": host, "correct": correct, "attempted": attempted, "failed": failed,
                   "metrics": metrics, "info": info, "errors": rec["errors"],
                   "oracle_mismatches": bad, "values": rec["values"], "setup_s": setups,
                   "cycles": rec["cycles"], "ops": rec["ops"], "spans": rec["spans"]}, fh, indent=1)
    log(f"host {json.dumps(host)}")
    log(f"info {json.dumps(info)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]}
                                  for d in declared}}))
    sys.exit(0 if correct else 1)


def git_commit():
    """HEAD of the checkout when it is itself a git work tree, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


if __name__ == "__main__":
    main()
