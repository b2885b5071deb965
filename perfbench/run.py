#!/usr/bin/env python3
"""The repository's benchmark: a seeded MiniGQL session, timed end to end
and, in a separate traced run, layer by layer.

    python3 perfbench/run.py --workload gql_mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt, output in
perfbench/target/) and writes the benchmark graph's parquet tables under
.bench_build/; later runs reuse both. Each run then starts one JVM (perfbench.Runner)
that plays the client, checks every answer against DuckDB over the same
parquet outside the timed window, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones; the traced run also writes every statement's phases, jobs and
tasks to a sidecar under .bench_build/trace/. BENCHMARK.json says why
each workload exists; NOTES.md defines every metric.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
CORES = 4
SETUPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.time()


def spark_home():
    """The Spark install whose jars the engine compiles and runs against:
    SPARK_HOME, else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home if home and os.path.isdir(os.path.join(home, "jars")) else None


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Fingerprint of every input of the build."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        if os.path.isfile(top):
            st = os.stat(top)
            h.update(f"{top}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build; True when it compiled."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return False
    log("building engine + harness with sbt")
    # offline, from the toolchain's caches; everything sbt writes goes to
    # the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS") or "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        # a long checkout path cannot hold sbt's boot socket; build without it
        "-Dsbt.boot.lock=false", "-Dsbt.server.autostart=false",
        "-Dsbt.server.forcestart=true"])
    out = os.path.join(BUILD, "build.log")
    with open(out, "w") as f:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=700).returncode
    if rc != 0:
        sys.stderr.write(open(out).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {out}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def table_sizes(data_dir):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("supplier", "customer", "part", "orders", "lineitem")}


def run_jvm(spec, run_dir, timeout):
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    out_path = os.path.join(run_dir, "out.json")
    rows_path = os.path.join(run_dir, "rows.jsonl")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the loader keeps its one-time lineitem id store under java.io.tmpdir;
    # it is shared by every run of this checkout, like a user's data dir
    jtmp = os.path.join(BUILD, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Runner",
            spec_path, out_path, rows_path]
    err_path = os.path.join(run_dir, "jvm.log")
    with open(err_path, "w") as err:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        lines = open(err_path, errors="replace").read().splitlines()
        sys.stderr.write("\n".join(l for l in lines if "INFO" not in l)[-4000:] + "\n")
        fail(f"runner failed ({rc})")
    with open(out_path) as f:
        out = json.load(f)
    answers = {}
    with open(rows_path) as f:
        for line in f:
            a = json.loads(line)
            answers[(a["pass"], a["id"])] = (a["cols"], a["rows"])
    return out, answers


# ---------------------------------------------------------------- oracle

def cell(v):
    """Canonical text of one value; Runner.cell renders engine values."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.9f}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else f"{float(v):.9f}"
    return str(v)


class Oracle:
    def __init__(self, data_dir):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ("region", "nation", "supplier", "customer", "part", "orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        self.cache = {}

    def answer(self, sql):
        if sql not in self.cache:
            cur = self.con.execute(sql)
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=lambda k: names[k])
            rows = sorted(tuple(cell(r[k]) for k in order) for r in cur.fetchall())
            self.cache[sql] = ([names[k] for k in order], rows)
        return self.cache[sql]


def check(stmt, got, oracle, corrupt):
    """None when the engine's answer equals the oracle's, else why not."""
    cols, rows = got
    ecols, erows = oracle.answer(stmt["oracle"])
    if corrupt:
        erows = erows[1:] if erows else [tuple("corrupted" for _ in ecols)]
    if cols != ecols:
        return f"columns {cols} != oracle {ecols}"
    rows = sorted(tuple(r) for r in rows)
    if rows != erows:
        extra = [r for r in rows if r not in set(erows)][:3]
        missing = [r for r in erows if r not in set(rows)][:3]
        return (f"{len(rows)} rows vs oracle {len(erows)}; "
                f"extra {extra}, missing {missing}")
    return None


# ---------------------------------------------------------------- metrics

def pct(values, q):
    """Harrell-Davis estimate of the q-quantile: a mean of all order
    statistics, weighted by the Beta((n+1)q, (n+1)(1-q)) mass that falls
    on each. The statements of a round come from 20 templates whose
    latencies cluster, and a percentile taken between two order statistics
    lands on the gap between two templates; the weighted mean does not
    depend on which two. A failed statement counts as infinitely slow, and
    since every order statistic has a weight, a run with one reads 1e9."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0] if math.isfinite(v[0]) else 1e9
    if not math.isfinite(v[-1]):
        return 1e9
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lg = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 200  # midpoint rule within each order statistic's 1/n slice

    def density(x):
        return math.exp(lg + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    w = [sum(density((i + (k + 0.5) / steps) / n) for k in range(steps))
         for i in range(n)]
    return sum(wi * x for wi, x in zip(w, v)) / sum(w)


def end_to_end(out, failed_ids):
    measured = [r for r in out["stmts"] if r["pass"] == "measure"]
    lat = [math.inf if (r["id"] in failed_ids) else r["lat_ms"] for r in measured]
    attempted = len(measured)
    setups = [s["setup_s"] for s in out["setups"]]
    m = {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "latency_p50_ms": (pct(lat, 0.5), "ms", attempted),
        "latency_p90_ms": (pct(lat, 0.9), "ms", attempted),
        "stmts_per_s": (attempted / out["wall_s"], "1/s", attempted),
        "ok_ratio": (1.0 - len([r for r in measured if r["id"] in failed_ids]) / attempted,
                     "ratio", attempted),
        "storage_peak_mb": (max(r["storage_mb"] for r in out["stmts"]), "MB",
                            len(out["stmts"])),
    }
    return m


def busy_ms(r, jobs):
    """Wall time within statement `r` during which at least one job ran."""
    spans = sorted((max(j["start_ms"], r["t0_ms"]), min(j["end_ms"], r["t1_ms"]))
                   for j in jobs if "end_ms" in j)
    busy, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def per_layer(out, stmts, threaded):
    """Per-layer metrics of the traced replay: times are means per
    statement over the statements that call the layer, counts and bytes
    means per statement. Jobs and tasks reach a statement and a phase
    through the job group the client set before each call."""
    by_id = {st["id"]: st for st in stmts}
    replay = [r for r in out["stmts"] if r["pass"] == "traced"]
    first = next(r for r in out["stmts"] if r["pass"] == "traced/setup")
    jobs_of, tasks_of = {}, {}
    for j in out["jobs"]:
        jobs_of.setdefault(j["group"], []).append(j)
    group_of_job = {j["job"]: j["group"] for j in out["jobs"]}
    for t in out["tasks"]:
        tasks_of.setdefault(group_of_job.get(int(t[0]), ""), []).append(t)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def phase(r, p):
        return r["phase_ms"].get(p, 0.0)

    def of(r):
        groups = [g for g in jobs_of if g.startswith(f"traced:{r['id']}:")]
        return ([j for g in groups for j in jobs_of[g]],
                [t for g in groups for t in tasks_of.get(g, [])])

    jobs = {r["id"]: of(r)[0] for r in replay}
    tasks = {r["id"]: of(r)[1] for r in replay}

    def per_stmt(f):
        return mean(f(r) for r in replay)

    def task_sum(k, scale=1.0):
        return per_stmt(lambda r: sum(t[k] for t in tasks[r["id"]]) * scale)

    def cls(*names):
        return [r for r in replay if by_id[r["id"]]["class"] in names]

    gql = [r for r in replay if by_id[r["id"]]["kind"] == "gql"]
    lib = cls("lib")
    iters = cls("call", "lib")
    iter_jobs = [j for r in iters for j in jobs[r["id"]] if "end_ms" in j]
    storage_end = replay[-1]["storage_mb"]
    MB = 1.0 / 1048576
    m = {
        "lang.parse_ms": (mean(phase(r, "parse") for r in gql), "ms"),
        "lang.normalize_ms": (mean(phase(r, "normalize") for r in gql), "ms"),
        "lang.subst_ms": (mean(phase(r, "subst") for r in gql), "ms"),
        "lang.typecheck_ms": (mean(phase(r, "typecheck") for r in gql), "ms"),
        "engine.run_ms": (mean(phase(r, "engine") for r in gql), "ms"),
        "engine.jobs": (mean(len(jobs_of.get(f"traced:{r['id']}:engine", [])) for r in gql),
                        "count"),
        "lib.build_ms": (mean(phase(r, "lib") for r in lib), "ms"),
        "plan.optimize_ms": (per_stmt(lambda r: phase(r, "optimize")), "ms"),
        "plan.physical_ms": (per_stmt(lambda r: phase(r, "physical")), "ms"),
        "exec.action_ms": (per_stmt(lambda r: phase(r, "action")), "ms"),
        "exec.driver_gap_ms": (per_stmt(lambda r: max(0.0, r["lat_ms"] - busy_ms(r, jobs[r["id"]]))),
                               "ms"),
        "iter.jobs_per_call": (mean(len(jobs[r["id"]]) for r in iters), "count"),
        "iter.job_ms_p50": (statistics.median(j["end_ms"] - j["start_ms"] for j in iter_jobs)
                            if iter_jobs else 0.0, "ms"),
        "exec.jobs": (per_stmt(lambda r: len(jobs[r["id"]])), "count"),
        "exec.stages": (per_stmt(lambda r: sum(j["stages"] for j in jobs[r["id"]])), "count"),
        "exec.tasks": (per_stmt(lambda r: len(tasks[r["id"]])), "count"),
        "exec.task_cpu_s": (task_sum(1), "s"),
        "exec.task_wait_s": (task_sum(2, 1e-3), "s"),
        "exec.shuffle_write_mb": (task_sum(3, MB), "MB"),
        "exec.shuffle_read_mb": (task_sum(4, MB), "MB"),
        "exec.spill_mb": (task_sum(5, MB), "MB"),
        "exec.failed_tasks": (sum(t[6] for t in out["tasks"]), "count"),
        "load.graph_ms": (statistics.median(s["load_ms"] for s in out["setups"]), "ms"),
        # the plain replay's setup ran without the listener
        "load.jobs": (mean(len(jobs_of.get(f"{s['pass']}:load", []))
                           for s in out["setups"] if s["pass"] != "plain"), "count"),
        "storage.mem_mb_end": (storage_end, "MB"),
        "storage.rdds_end": (replay[-1]["rdds"], "count"),
        "storage.growth_mb_per_version": (
            (storage_end - first["storage_mb"]) / max(1, len(cls("mutation"))), "MB"),
        # a threaded session drains once, when it ends; the others after
        # every statement
        "ckpt.drain_ms": (out["session_drain_ms"] if threaded
                          else per_stmt(lambda r: phase(r, "drain")), "ms"),
        "trace.overhead_pct": ((out["wall_traced_s"] / out["wall_plain_s"] - 1.0) * 100.0, "%"),
    }
    return {k: (v, u, len(replay)) for k, (v, u) in m.items()}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: drop a row from every expected answer")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None or spark_home() is None:
        fail("java, sbt and a Spark install (SPARK_HOME or spark-submit on PATH) are required")
    os.makedirs(BUILD, exist_ok=True)
    built = build()

    wl = workloads.WORKLOADS[args.workload]
    sf = args.sf or wl["sf"]
    data_dir = datagen.ensure(os.path.join(BUILD, "data", f"sf{sf}"), sf)
    # --seconds sets how many whole rounds a run measures, so that every
    # run of a workload does the same work whatever the machine's speed;
    # a traced run plays half as many rounds three times over, the first
    # time as its warm-up
    rounds = max(1, round(args.seconds / wl["round_s"]))
    warm = 0 if args.trace else wl["warmup_rounds"]
    if args.trace:
        rounds = max(1, rounds // 2)
    stmts = workloads.generate(args.workload, args.seed, table_sizes(data_dir), warm + rounds)

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {
        "workload": args.workload, "seed": args.seed, "data_dir": data_dir,
        "cores": CORES, "trace": bool(args.trace),
        "setups": SETUPS, "threaded": wl["threaded"],
        "warmup": warm * (len(stmts) - 1) // (warm + rounds),
        "statements": [{k: st[k] for k in ("id", "name", "kind", "text", "params", "out")}
                       for st in stmts],
    }
    log(f"{len(stmts)} statements generated, starting the client")
    # a run must end within 180 s, or 900 s when it built the program;
    # keep a few seconds for the answer check, and stop measuring early
    # enough that the client can release its session, write its output
    # and exit
    timeout = (900 if built else 180) - 10 - (time.time() - T0)
    spec["measure_until_s"] = timeout - 25
    try:
        out, answers = run_jvm(spec, run_dir, timeout)
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    log(f"client done: {len(out['stmts'])} statements, checking answers")
    # correctness, outside the timed window
    oracle = Oracle(data_dir)
    by_id = {st["id"]: st for st in stmts}
    failures = {}
    for r in out["stmts"]:
        st = by_id[r["id"]]
        if not r["ok"]:
            why = r["error"]
        else:
            why = check(st, answers[(r["pass"], r["id"])], oracle, args.corrupt_oracle)
        if why:
            failures[(r["pass"], r["id"])] = why
            log(f"FAIL seed={args.seed} pass={r['pass']} stmt={r['id']} {st['name']} "
                f"params={st['params']}: {why}")

    if args.trace:
        metrics = per_layer(out, stmts, wl["threaded"])
    else:
        metrics = end_to_end(out, {i for p, i in failures if p == "measure"})
    log("answers checked")
    samples = {k: n for k, (_, _, n) in metrics.items()}
    sidecar = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
        "failures": [{"pass": p, "id": i, "name": by_id[i]["name"], "text": by_id[i]["text"],
                      "params": by_id[i]["params"], "why": w} for (p, i), w in failures.items()],
        "setups": out["setups"],
        "statements": [{"id": r["id"], "name": by_id[r["id"]]["name"], "pass": r["pass"],
                        "lat_ms": r["lat_ms"], "rows": r["rows"], "storage_mb": r["storage_mb"],
                        "phase_ms": r["phase_ms"]} for r in out["stmts"]],
    }
    side_dir = os.path.join(BUILD, "trace" if args.trace else "e2e")
    os.makedirs(side_dir, exist_ok=True)
    with open(os.path.join(side_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "sf": sf,
                      "rounds": rounds, "trace": args.trace, "samples": samples}))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(out["stmts"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
